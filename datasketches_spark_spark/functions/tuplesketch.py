"""Tuple (per-key summary) sketch functions — the engine's fourth
aggregate family on the reference's four-verb lifecycle
(``README.md:63-64`` accumulate / combine / estimate model; no jar
counterpart — the reference stops at quantiles / freq / distinct-count).

A tuple state is a Theta-style KMV sample of the distinct-KEY space
(same hash dispatch as ``sketches/theta.py``) where every retained key
carries exact ``(row count, value sum)`` summaries. From one state a
pipeline reads: NDV, total rows, total value, AND estimates over
predicates on per-key aggregates ("distinct users with >= 20 events",
"value carried by repeat keys") — questions a Theta/HLL state cannot
answer without re-scanning raw data.

EXACT while observed NDV < k (``spark.sql.dataSketches.tuple.k``,
default 4096); KMV-class error (~1/sqrt(k-2)) at saturation
(estimation-mode coverage gated by ``accuracy_report.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..families import _family
from ..sketches import ITEM_LONG
from .udfs import (
    Finisher,
    _col,
    accumulate_udf,
    combine_udf,
    tuple_est_udf,
    tuple_segment_sum_udf,
    tuple_segment_udf,
)


def approx_tuple_accumulate(key_col, value_col, k: int | None = None) -> Column:
    """Aggregate ``(key, value)`` rows into a serialized tuple state.
    Null-key rows are dropped; a null value counts its row with a 0.0
    contribution. For the two-phase map-side plan use
    ``operators.sketch_agg`` with family ``"tuple"``."""
    return accumulate_udf(_family("tuple", k=k))(
        _col(key_col), _col(value_col).cast("double"))


def approx_tuple_accumulate_wire(key_col, value_col,
                                 k: int | None = None,
                                 item_type: str | None = None) -> Column:
    """Aggregate ``(key, value)`` rows into a GENUINE Apache DataSketches
    Tuple/ArrayOfDoubles compact state (wire family 9, ``compat/aod.py``)
    — readable by datasketches-java and union-able with its sketches
    over overlapping data (same MurmurHash3 seed-9001 key space).
    Summaries use the two-value ``[1.0, x]`` convention, so every
    retained key carries (row count, value sum) and the state decodes
    through ``approx_tuple_estimate`` / ``approx_tuple_segment_estimate``
    like an engine tuple state. ``item_type`` picks the key hash layout
    ("string" default, "long" for integral keys — matching Java's
    ``update(long, ...)``)."""
    it = item_type or "string"
    fam = _family("aodwire", k=k, item_type=ITEM_LONG if it == "long" else it)
    return accumulate_udf(fam)(_col(key_col), _col(value_col).cast("double"))


def approx_tuple_combine(col) -> Column:
    """Merge serialized tuple states (family-agnostic byte-sniff kernel,
    like every other ``*_combine``)."""
    return combine_udf()(_col(col))


def approx_tuple_estimate(col) -> Column:
    """Decode a tuple state: ``struct(ndv: long, rows: long,
    value_sum: double)`` — distinct keys, total rows, total value."""
    return Finisher(tuple_est_udf)(col)


def approx_tuple_bounds(col, num_std: float = 2.0) -> Column:
    """Distinct-key confidence bounds ``[lower, upper]`` from a tuple
    state — exact-regime states collapse to the exact count; at
    saturation the KMV relative standard error ``1/sqrt(k-2)`` applies
    (the same Beyer et al. envelope as the Theta family; one shared
    ``udfs.distinct_bounds_udf`` kernel serves both)."""
    from .udfs import distinct_bounds_udf
    return distinct_bounds_udf("approx_tuple_bounds")(
        _col(col), F.lit(float(num_std)))


def approx_tuple_segment_estimate(col, min_count: int = 1,
                                  min_sum: float | None = None) -> Column:
    """``struct(keys: long, value_sum: double)`` for the segment of keys
    whose per-key row count >= ``min_count`` (and, when ``min_sum`` is
    given, per-key value sum >= ``min_sum``) — the per-key-predicate
    estimator (exact while the state is exact; Horvitz-Thompson scaled
    at saturation)."""
    return _tuple_segment_finisher(min_count, min_sum)(col)


def _tuple_segment_finisher(min_count: int = 1,
                            min_sum: float | None = None) -> Finisher:
    if min_sum is None:
        return Finisher(tuple_segment_udf, int(min_count))
    return Finisher(tuple_segment_sum_udf, int(min_count), float(min_sum))
