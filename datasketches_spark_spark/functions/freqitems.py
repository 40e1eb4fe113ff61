"""Frequent-items ("heavy hitters") functions (reference #9-#12).

API parity with ``freqItemSketches.scala:144-389``: result element type is
``struct<item, estimated: long>`` (field name ``estimated``, not
``estimate`` — ``freqItemSketches.scala:169-171``), ordered by estimate
descending. String and long item types supported (``:42-43``); explode
results with ``F.inline`` exactly as the reference demos (``README.md:157``).
"""

from __future__ import annotations

from pyspark.sql import Column

from ..families import _family
from ..sketches import ITEM_LONG, ITEM_STR
from .udfs import (Finisher, _col, accumulate_udf, combine_udf, direct_udf,
                   freq_est_udf, freq_result_type, frequent_items)

_TYPES = {"string": ITEM_STR, "str": ITEM_STR, "long": ITEM_LONG, "int": ITEM_LONG}


def _item_type(item_type: str) -> str:
    t = _TYPES.get(item_type.lower())
    if t is None:
        raise ValueError(f"item_type must be 'string' or 'long', got {item_type}")
    return t


def _prep(col, t: str) -> Column:
    # ImplicitCastInputTypes parity: byte/short/int coerce to long
    # (freqItemSketches.scala:173); everything else to string.
    return _col(col).cast("long" if t == ITEM_LONG else "string")


def approx_freqitems(col, item_type: str = "string",
                     max_map_size: int | None = None) -> Column:
    """Direct aggregate: heavy hitters as ``array<struct<item, estimated>>``."""
    t = _item_type(item_type)
    fam = _family("freq", item_type=t, max_map_size=max_map_size)
    return direct_udf(fam, freq_result_type(t), frequent_items)(_prep(col, t))


def approx_freqitems_accumulate(col, item_type: str = "string",
                                max_map_size: int | None = None) -> Column:
    t = _item_type(item_type)
    fam = _family("freq", item_type=t, max_map_size=max_map_size)
    return accumulate_udf(fam)(_prep(col, t))


def approx_freqitems_combine(col) -> Column:
    return combine_udf()(_col(col))


def _freqitems_finisher(item_type: str = "string") -> Finisher:
    t = _item_type(item_type)
    return Finisher(lambda: freq_est_udf(t))


def approx_freqitems_estimate(col, item_type: str = "string") -> Column:
    return _freqitems_finisher(item_type)(col)


def approx_join_size(col_a, col_b) -> Column:
    """Estimated equi-join output cardinality from two persisted
    frequent-items states over the join key: ``sum_k est_A(k)*est_B(k)``.
    Exact when both states are exact-regime; heavy-hitter-dominated
    approximation otherwise (see `udfs.freq_join_size_udf`). Engine
    extension — the reference has no cross-state estimator; the pattern
    is the classic sketch-based join planner input."""
    from .udfs import freq_join_size_udf
    return freq_join_size_udf()(_col(col_a), _col(col_b))


def approx_freqitems_maxerr(col) -> Column:
    """The sketch's maximum estimation error (0 = exact regime): every
    reported count is within [true, true + max_err]. The read-time
    exactness assertion for freq-items results."""
    from .udfs import freq_maxerr_udf
    return freq_maxerr_udf()(_col(col))
