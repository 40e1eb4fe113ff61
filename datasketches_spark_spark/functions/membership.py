"""Approximate set-membership functions (Bloom filter family).

The engine's fifth aggregate family, on the same accumulate / combine /
estimate lifecycle as quantiles, freq-items, distinct-count, and tuple
(reference model: ``README.md:68-100`` — the reference itself stops at
three families; membership is an extension component).

What it is for at 100 TB: "is this key one of the N I have already
seen?" answered from a broadcastable state instead of a shuffle against
the historical key set. The canonical use is the prefilter-then-verify
incremental dedup in ``operators/dedup.py::bloom_prefilter_match`` —
no false negatives means the prefilter drops only definite-new rows,
so the exact verify join sees a candidate set of (true matches +
fpp·|incoming|) rows and the END-TO-END result is exact.

Typical composition::

    from datasketches_spark_spark import functions as dsf

    seen = corpus.agg(dsf.approx_membership_accumulate(
        "fingerprint", expected_items=10_000_000).alias("bf"))
    state = seen.collect()[0].bf            # ~12 MB at fpp=0.01
    hits = incoming.where(dsf.approx_membership_contains(
        F.lit(state), F.col("fingerprint")))

SQL surface (after ``install(spark)``): ``approx_membership_accumulate``
/ ``_combine`` / ``_contains`` / ``_estimate`` / ``_fpp`` with conf keys
``spark.sql.dataSketches.membership.expectedItems`` / ``.fpp``.
"""

from __future__ import annotations

from pyspark.sql import Column

from ..families import _family
from ..sketches import ITEM_LONG, ITEM_STR
from .udfs import (
    _col,
    accumulate_udf,
    bloom_contains_udf,
    bloom_estimate_udf,
    bloom_fpp_udf,
    combine_udf,
)


def approx_membership_accumulate(col, expected_items: int | None = None,
                                 fpp: float | None = None) -> Column:
    """Aggregate raw key values into a serialized Bloom membership state.

    Geometry is fixed by the design point (conf defaults
    ``membership.expectedItems`` = 1M, ``membership.fpp`` = 0.01), so
    every partial built in one aggregation merges bit-exactly. State
    size is constant ``m/8`` bytes regardless of fill (~1.2 MB per
    million designed keys at 1%)."""
    fam = _family("bloom", expected_items=expected_items, fpp=fpp)
    return accumulate_udf(fam)(_col(col))


def approx_membership_combine(state) -> Column:
    """Merge Bloom states (bitwise OR — a union homomorphism, so any
    merge tree gives identical bytes). Geometry mismatch raises, like
    the reference's combine on corrupt state."""
    return combine_udf()(_col(state))


def approx_membership_contains(state, col,
                               item_type: str | None = None) -> Column:
    """Per-row membership test of ``col`` against a Bloom state column
    (usually one literal/broadcast state). True for every accumulated
    key — NO false negatives; never-seen keys test positive with
    probability ``approx_membership_fpp(state)``.

    ``item_type`` ('long' | 'string') pins the hash path for WIRE
    (DataSketches family-21) states at plan time — pass the same value
    the state was accumulated with. Left as None, an integer probe
    column (including integral-valued float batches — a nullable
    bigint column arrives as float64 whenever a batch holds a null)
    tests BOTH wire hash spaces and ORs the results, so no false
    negatives whichever ``item_type`` default built the state, at the
    cost of at most doubling the false-positive rate — pin both sides
    for the designed fpp. Engine-native states ignore it —
    they probe one shared hash space for every input type.
    ``item_type='long'`` ships the probe keys as cast-to-string so
    values above 2^53 survive Arrow exactly."""
    probe = _col(col)
    it = None
    if item_type in ("long", "int"):
        it = ITEM_LONG
        probe = probe.cast("long").cast("string")
    elif item_type in ("str", "string"):
        it = ITEM_STR
        probe = probe.cast("string")
    elif item_type is not None:
        raise ValueError(f"unknown item_type: {item_type!r}")
    return bloom_contains_udf(it)(_col(state), probe)


def approx_membership_estimate(state) -> Column:
    """Distinct-key estimate decoded from the state's fill ratio
    (Swamidass & Baldi 2007); null for a saturated filter."""
    return bloom_estimate_udf()(_col(state))


def approx_membership_fpp(state) -> Column:
    """CURRENT false-positive probability at the state's observed fill
    — the membership family's read-time error surface (analogue of
    ``approx_count_distinct_bounds``)."""
    return bloom_fpp_udf()(_col(state))


def approx_membership_accumulate_wire(col, expected_items: int | None = None,
                                      fpp: float | None = None,
                                      seed: int = 0,
                                      item_type: str = "string") -> Column:
    """Aggregate raw key values into a GENUINE Apache DataSketches
    BloomFilter wire image (family 21, ``compat/bloomwire.py``) —
    byte-identical to ``BloomFilter.toByteArray()`` of a
    datasketches-java instance fed the same stream, so the state crosses
    the system boundary in both directions. All membership read surfaces
    (``_contains`` / ``_estimate`` / ``_fpp`` / ``_combine``) accept
    wire states transparently; engine-native and wire states cannot
    union with each other (different hash spaces — the combine raises
    with migration guidance). ``item_type='long'`` hashes integral keys
    as 8-byte longs (the Java ``update(long)`` overload); the default
    hashes UTF-8 strings. The item type binds at PLAN time and the key
    column is normalized JVM-side (long keys ship as cast-to-string and
    re-parse exactly in the worker), so the state bytes are independent
    of which Arrow batch a null lands in and exact above 2^53."""
    keys = _col(col)
    if item_type in ("long", "int", ITEM_LONG):
        it = ITEM_LONG
        keys = keys.cast("long").cast("string")
    elif item_type in ("str", "string", ITEM_STR):
        it = ITEM_STR
        keys = keys.cast("string")
    else:
        raise ValueError(f"unknown item_type: {item_type!r}")
    fam = _family("bloomwire", expected_items=expected_items, fpp=fpp,
                  seed=seed, item_type=it)
    return accumulate_udf(fam)(keys)
