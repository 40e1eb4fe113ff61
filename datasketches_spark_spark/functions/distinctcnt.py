"""Approximate distinct-count functions (reference #13-#18).

API parity with ``distinctCntSketches.scala:180-443``. Three execution
paths, selected by conf ``spark.sql.dataSketches.distinctCnt.sketchImpl``
(default ``CPC``) or the forced-impl variants:

* ``CPC`` (default) — the engine's numpy HLL (``sketches/hll.py``) at a
  CPC-equivalent lgk (conf lgK+4): exact through its sparse coupon phase,
  then RSE ~ 0.57% at the reference default — matching the reference's
  published CPC accuracy (+0.56%, ``README.md:259-264``).
* ``THETA`` — the engine's KMV Theta sketch via Arrow-batched pandas UDFs
  (``sketches/theta.py``): exact below k, and the state family the
  ``approx_set_*`` algebra operates on.
* ``HLL`` — Spark's native DataSketches-HLL built-ins ``hll_sketch_agg`` /
  ``hll_union_agg`` / ``hll_sketch_estimate``: pure JVM, true partial
  aggregation (TypedImperativeAggregate), zero Python overhead, and its
  binary states use the Apache DataSketches HLL wire format — portable to
  other DataSketches implementations just like the reference's states.

Unlike the reference, ``approx_count_distinct_hll`` really runs HLL (the
reference mislabels it and runs CPC — ``distinctCntSketches.scala:249``).

Foreign-state interop: reference-persisted states work on BOTH wire
formats — DataSketches HLL images route to Spark's JVM decoder, and
DataSketches CPC images (the reference's DEFAULT accumulate state,
``distinctCntSketches.scala:57-66``) decode through the engine's
pure-Python CPC decoder (``compat/cpc.py``): ``*_estimate`` reads HIP /
ICON estimates and ``*_combine`` unions CPC states with each other via
their coupon bit matrices. Combined CPC states EXPORT back to merged
CPC wire bytes via ``export_datasketches_state`` (byte-identical to
``CpcUnion.getResult().toByteArray()``; java-cross-validated in
``tests/test_compat_cpc.py``), closing the wire interop loop both
directions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .. import conf
from ..families import _family
from ..sketches import ITEM_LONG, ITEM_STR
from .udfs import (
    _col,
    accumulate_udf,
    combine_udf,
    direct_udf,
    theta_est_udf,
    theta_setop_udf,
)


def ndv_udf(family: str, **params):
    """GROUPED_AGG: raw values -> the family sketch's NDV estimate."""
    return direct_udf(_family(family, **params), LongType(),
                      lambda sk: sk.estimate())


def _impl(impl: str | None) -> str:
    v = (impl or conf.distinct_impl()).upper()
    if v not in ("CPC", "THETA", "HLL"):
        raise ValueError(f"unknown distinct-count impl {impl}")
    return v


def approx_count_distinct_ex(col, impl: str | None = None,
                             k: int | None = None) -> Column:
    """NDV estimate via the conf-selected sketch (LongType result)."""
    v = _impl(impl)
    if v == "HLL":
        return approx_count_distinct_hll(col)
    if v == "THETA":
        return approx_count_distinct_theta(col, k=k)
    return approx_count_distinct_cpc(col)


def approx_count_distinct_cpc(col, lgk: int | None = None) -> Column:
    """NDV via the engine's numpy HLL at a CPC-equivalent lgk (conf lgK+4):
    exact through the sparse phase, then RSE ~ 0.57% at the reference
    default — CPC-class accuracy on the default path (the round-2 KMV
    stand-in at k=4096 had RSE ~ 1.6%). KMV remains available as
    ``approx_count_distinct_theta`` for set algebra."""
    return ndv_udf("hll", lgk=lgk or conf.distinct_cpc_lgk())(_col(col))


def approx_count_distinct_theta(col, k: int | None = None) -> Column:
    """NDV via the engine's Theta/KMV sketch — exact below k, and the
    state family the ``approx_set_*`` algebra operates on."""
    return ndv_udf("theta", k=k)(_col(col))


def approx_count_distinct_hll(col, lgk: int | None = None) -> Column:
    """NDV via Spark-native DataSketches HLL (JVM fast path)."""
    lgk = lgk or conf.distinct_hll_lgk()
    return F.hll_sketch_estimate(F.hll_sketch_agg(_col(col), F.lit(lgk)))


def approx_count_distinct_accumulate(col, impl: str | None = None,
                                     k: int | None = None) -> Column:
    """Aggregate raw values into a serialized distinct-count state."""
    v = _impl(impl)
    if v == "HLL":
        return F.hll_sketch_agg(_col(col), F.lit(conf.distinct_hll_lgk()))
    if v == "CPC":
        fam = _family("hll", lgk=conf.distinct_cpc_lgk())
    else:
        fam = _family("theta", k=k)
    return accumulate_udf(fam)(_col(col))


def approx_count_distinct_accumulate_cpc(col, lgk: int | None = None,
                                         item_type: str = "string") -> Column:
    """Aggregate raw values into a GENUINE Apache DataSketches CPC state
    (wire bytes at ``distinctCnt.cpc.lgK``, default 11) — byte-compatible
    with the reference engine's default accumulate states and unionable
    with sketches built by datasketches-java over overlapping data
    (bit-identical MurmurHash3 coupons, ``sketches/murmur3.py``). Slower
    than the default engine-HLL accumulate (strings hash per item in
    Python); use when the states must be readable on the reference side
    without an export step. Flows into ``approx_count_distinct_combine``
    / ``_estimate`` like any CPC state."""
    it = ITEM_LONG if item_type in ("long", "int") else ITEM_STR
    return accumulate_udf(_family("cpcwire", lgk=lgk, item_type=it))(
        _col(col))


def approx_count_distinct_accumulate_theta_wire(
        col, k: int | None = None, item_type: str = "string") -> Column:
    """Aggregate raw values into a GENUINE Apache DataSketches compact
    Theta state (family-3 wire bytes) — set-operable with sketches built
    by datasketches-java over overlapping data, byte-identical in the
    exact regime (``compat/theta.py``). Use when set-algebra states must
    cross into the DataSketches ecosystem; the engine's own
    ``_accumulate_theta`` KMV stays the internal default. Flows into
    ``approx_count_distinct_combine`` / ``_estimate`` and the
    ``approx_set_*`` functions (foreign-with-foreign pairs)."""
    it = ITEM_LONG if item_type in ("long", "int") else ITEM_STR
    return accumulate_udf(_family("thetawire", k=k, item_type=it))(
        _col(col))


def approx_count_distinct_combine(col, impl: str | None = None) -> Column:
    """Merge serialized distinct-count states.

    HLL merges allow mixed ``lgConfigK`` images (the union downsamples to
    the smallest, exactly what the DataSketches Union operator the
    reference wraps does) — Spark's bare ``hll_union_agg`` default would
    refuse them, which is wrong for a migration surface where persisted
    states from different jobs rarely share one k."""
    if _impl(impl) == "HLL":
        return F.hll_union_agg(_col(col), allowDifferentLgConfigK=True)
    return combine_udf()(_col(col))


def _is_ds_hll(c: Column) -> Column:
    """Byte sniff: Apache DataSketches states carry their family id in
    byte 3 (HLL = 7); the engine's own magic puts 0x53 there. Reference
    HLL states (``distinctCntSketches.scala:106``,
    ``toUpdatableByteArray``) and Spark's ``hll_sketch_agg`` output both
    match."""
    return F.substring(c, 3, 1) == F.lit(bytes([7]))


def approx_count_distinct_estimate(col, impl: str | None = None) -> Column:
    """Decode a state and return the NDV estimate (LongType).

    Engine states (Theta / engine-HLL) decode in the Arrow UDF; foreign
    Apache DataSketches HLL states — a migrating reference user's
    ``approx_count_distinct_accumulate`` output under
    ``sketchImpl=HLL``, or any DataSketches HLL_4/6/8 image — route to
    Spark's JVM ``hll_sketch_estimate``, which reads that wire format
    natively (CaseWhen evaluates the JVM branch only on matching rows).
    Combine foreign HLL states with ``impl="HLL"`` (JVM
    ``hll_union_agg``)."""
    if _impl(impl) == "HLL":
        return F.hll_sketch_estimate(_col(col))
    c = _col(col)
    return (F.when(_is_ds_hll(c), F.hll_sketch_estimate(c))
            .otherwise(theta_est_udf()(c)))


def approx_set_jaccard(col_a, col_b) -> Column:
    """Jaccard similarity of two Theta set states (|A∩B| / |A∪B|) — exact
    while both sketches are in the exact regime. Extension beyond the
    reference: the Theta framework's set algebra applied to the engine's
    accumulate states (sets compared without re-reading raw data)."""
    return theta_setop_udf("jaccard")(_col(col_a), _col(col_b))


def approx_set_intersection(col_a, col_b) -> Column:
    """Estimated |A ∩ B| of two Theta set states."""
    return theta_setop_udf("intersection")(_col(col_a), _col(col_b))


def approx_set_difference(col_a, col_b) -> Column:
    """Estimated |A \\ B| of two Theta set states."""
    return theta_setop_udf("a_not_b")(_col(col_a), _col(col_b))


def approx_count_distinct_bounds(col, num_std: float = 2.0) -> Column:
    """NDV confidence bounds ``[lower, upper]`` from a Theta state —
    exact-regime states collapse to the exact count; estimation mode
    uses the KMV relative standard error ``1/sqrt(k-2)``
    (`udfs.distinct_bounds_udf`; the DataSketches Theta
    getLowerBound/getUpperBound surface)."""
    from .udfs import distinct_bounds_udf
    return distinct_bounds_udf()(_col(col), F.lit(float(num_std)))
