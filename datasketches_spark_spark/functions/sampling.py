"""Reservoir-sampling sketch functions — the accumulate/combine/estimate
lifecycle for uniform per-group samples (``sketches/reservoir.py``).

Mirrors the other families' verb surface (SURVEY.md §0); combine is the
shared family-agnostic kernel (``udfs.combine_udf``), so reservoir states
merge in the same SQL/DataFrame pipelines as every other sketch. For
whole-table sampling prefer ``operators.sampling`` (top-k physics, no
Python in the row path); this family is for PER-GROUP samples inside a
sketch summary table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType

from ..families import _family
from ..sketches import (
    ITEM_DOUBLE,
    ITEM_LONG,
    ITEM_STR,
    ReservoirSketch,
    WeightedReservoirSketch,
)
from .udfs import _col, accumulate_udf, combine_udf, state_udf

_SAMPLE_FAMILIES = (ReservoirSketch, WeightedReservoirSketch)


def _item_type(item_type: str) -> str:
    if item_type in ("long", "int", ITEM_LONG):
        return ITEM_LONG
    if item_type in ("string", ITEM_STR):
        return ITEM_STR
    if item_type in ("double", "float", ITEM_DOUBLE):
        return ITEM_DOUBLE
    raise ValueError(f"unsupported sample item type {item_type!r}")


_RESULT_TYPES = {
    ITEM_DOUBLE: DoubleType(),
    ITEM_LONG: LongType(),
    ITEM_STR: StringType(),
}


def _accumulate_udf(family: str, k: int, item_type: str):
    if k <= 0:
        raise ValueError(f"sample size k must be positive, got {k}")
    return accumulate_udf(_family(family, k=k, item_type=_item_type(item_type)))


def sample_estimate_udf(item_type: str):
    # empty aggregation -> null (family contract; an n=0 state can reach
    # here via two-phase partials of an all-filtered group, e.g. every
    # weight zero)
    suffix = {ITEM_DOUBLE: "", ITEM_LONG: "_long", ITEM_STR: "_string"}
    return state_udf(f"approx_sample_estimate{suffix[item_type]}",
                     ArrayType(_RESULT_TYPES[item_type], containsNull=False),
                     _SAMPLE_FAMILIES, lambda sk: sk.items() if sk.n else None)


def sample_size_udf():
    return state_udf("approx_sample_stream_size", LongType(), _SAMPLE_FAMILIES,
                     lambda sk: int(sk.n) if sk.n else None)


# ------------------------------------------------------------------ public

def approx_sample_accumulate(col, k: int = 1024,
                             item_type: str = "double") -> Column:
    """Aggregate: column -> serialized reservoir state (k-sample)."""
    return _accumulate_udf("reservoir", k, item_type)(_col(col))


def approx_sample_weighted_accumulate(col, weight_col, k: int = 1024,
                                      item_type: str = "double") -> Column:
    """Aggregate: (value, weight) -> serialized A-ES weighted-reservoir
    state. Zero/negative/null weights are excluded; merge is the
    deterministic top-k over persisted keys."""
    return _accumulate_udf("wreservoir", k, item_type)(_col(col),
                                                       _col(weight_col))


def approx_sample_combine(col) -> Column:
    """Aggregate: merge reservoir states (family-agnostic kernel; the
    merged reservoir is exactly uniform over the concatenated stream)."""
    return combine_udf()(_col(col))


def approx_sample_estimate(col, item_type: str = "double") -> Column:
    """Scalar: state -> the retained sample as a SORTED array (complete
    multiset while the stream stayed within k)."""
    return sample_estimate_udf(_item_type(item_type))(_col(col))


def approx_sample_stream_size(col) -> Column:
    """Scalar: state -> total items the reservoir has seen (n, not |sample|)."""
    return sample_size_udf()(_col(col))
