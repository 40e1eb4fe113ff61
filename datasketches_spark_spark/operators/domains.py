"""Domain/source-level corpus curation — the aggregation level every
web-scale pretraining pipeline filters at BEFORE looking at individual
documents (C4 blocklists domains; RefinedWeb caps documents per domain
and scores domains by aggregate quality; Dolma publishes per-source
mixing decisions).

Why a separate level: document-level rules (``functions/
quality_rules.py``) can't see that a domain is 90% templated
boilerplate, that one host contributes half the corpus, or that a
domain's duplicate fraction marks it as a mirror. Those are ONE
groupBy(domain) away — and at 100 TB that aggregation is the cheap
part (domain cardinality is millions, corpus rows are trillions), so
the curation decisions ride a dimension-bounded table that broadcasts
back onto the corpus scan.

Extension beyond the reference (maropu/datasketches-spark is sketch
functions only; corpus curation has no counterpart there).

Scale notes
-----------
* ``domain_stats`` is one scan + one groupBy. With the default
  ``ndv='exact'`` the exchange hash-partitions on ``(domain, _fp)`` —
  the ``countDistinct`` expansion — so its volume is O(distinct
  fingerprints) ~ O(corpus docs): the exactness floor (measured ~10x
  shuffle at 10x docs). ``ndv='theta'`` / ``'hll'`` switches the NDV
  to the engine's sketch machinery with a partition-local partial
  (counts + one state per partition x domain), making the exchange
  genuinely domain-bounded (measured ~flat at 10x docs); the ratios
  stay exact integer divisions, only ``n_unique``/``dup_frac`` become
  estimates (exact while per-domain NDV stays under the sketch size).
* ``filter_by_domain`` is a broadcast anti-join (drop list is
  domain-bounded); the corpus never shuffles to be filtered.
* ``cap_per_domain`` is the one genuinely shuffling op (row_number
  needs the domain's docs together); its output order key is explicit
  and total, so results are layout-deterministic. Skewed mega-domains
  are exactly the rows the cap REMOVES, so the skew is self-limiting:
  the window reads each partition once and emits at most ``max_docs``
  per domain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, tokenize


def default_quality_pred(text_col: Column) -> Column:
    """A cheap two-rule document-quality predicate (word-count window +
    alpha-word floor) for domain scoring when the full Gopher suite
    (``functions/quality_rules.py::gopher_flags``) is more than the
    caller wants to replay — both rules are single integer divisions,
    so an independent SQL engine reproduces the per-domain pass
    fractions bit-exactly."""
    toks = tokenize(text_col)
    n = F.size(toks)
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]")))
    return (n >= 40) & (n <= 100_000) & \
        (alpha.cast("double") / n.cast("double") >= 0.8)


def domain_stats(df: DataFrame, domain_col: str, id_col: str,
                 text_col: str,
                 quality_pred: Column | None = None,
                 ndv: str = "exact",
                 ndv_k: int | None = None) -> DataFrame:
    """Per-domain curation statistics in ONE scan + one groupBy::

        (domain, n_docs, n_unique, dup_frac, n_tokens, pass_frac)

    * ``n_unique`` / ``dup_frac`` — exact-content fingerprint NDV and
      the mirror-share ``1 - n_unique/n_docs``;
    * ``n_tokens`` — whitespace token mass (the mixing currency);
    * ``pass_frac`` — fraction of docs passing ``quality_pred``
      (default :func:`default_quality_pred`; pass
      ``gopher_flags(...)["passes"]`` bound to a struct column for the
      full suite).

    ``ndv`` picks the NDV engine — the operator's scale knob:

    * ``'exact'`` (default): ``countDistinct(_fp)``. Catalyst expands
      it to a pre-aggregation keyed on ``(domain, _fp)``, so the
      exchange carries O(distinct fingerprints) ~ O(corpus docs) rows —
      the exactness floor. Right up to mid scale and for oracle gates.
    * ``'theta'`` / ``'hll'``: the engine's own sketch families
      (``ndv_k`` = theta k / hll lg_k). One partition-local pass
      accumulates per-domain counts AND one NDV state per partition x
      domain; the single exchange then carries (domain, 3 longs,
      state) rows — domain-bounded, independent of corpus size.
      ``n_unique`` is the sketch estimate (exact while a domain's NDV
      stays under the sketch size — theta keeps the k smallest hashes,
      so below k it IS the distinct count); ``dup_frac`` inherits the
      estimate; every other column is exact. Estimates are
      deterministic and partition-layout invariant (hash-based, no RNG).
    """
    pred = (quality_pred if quality_pred is not None
            else default_quality_pred(F.col(text_col)))
    toks = tokenize(F.col(text_col))
    base = df.select(
        F.col(domain_col).alias("domain"),
        doc_fingerprint(F.col(text_col)).alias("_fp"),
        F.size(toks).cast("long").alias("_nt"),
        pred.cast("int").alias("_ok"))
    if ndv == "exact":
        agg = base.groupBy("domain").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("_fp").cast("long").alias("n_unique"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.sum("_ok").cast("long").alias("_n_ok"))
    elif ndv in ("theta", "hll"):
        agg = _domain_stats_sketched(base, ndv, ndv_k)
    else:
        raise ValueError(f"unknown ndv mode: {ndv!r} "
                         "(expected 'exact', 'theta' or 'hll')")
    return agg.select(
        "domain", "n_docs", "n_unique",
        (F.lit(1.0) - F.col("n_unique").cast("double")
         / F.col("n_docs").cast("double")).alias("dup_frac"),
        "n_tokens",
        (F.col("_n_ok").cast("double")
         / F.col("n_docs").cast("double")).alias("pass_frac"))


def _domain_stats_sketched(base: DataFrame, family: str,
                           ndv_k: int | None,
                           max_groups: int = 100_000) -> DataFrame:
    """Sketch-NDV grouped stats: partition-local partial (mapInPandas —
    no shuffle) emitting per (partition, domain) the three exact long
    counters plus ONE serialized NDV state, then a single exchange on
    the domain key merging counters (sums) and states (family union).

    The exchange therefore carries |domains| x |partitions| rows of
    (domain, 3 longs, ~k*8-byte state) — no term grows with corpus
    rows. ``max_groups`` bounds the live-accumulator dict exactly like
    ``sketch_partial_multi`` (flushes add shuffle rows, never change
    results).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from ..families import _family, _StateMerger
    from .sketch_agg import _iter_groups

    fam = (_family("theta", k=ndv_k) if family == "theta"
           else _family("hll", lgk=ndv_k))
    partial_schema = StructType([
        base.schema["domain"],
        StructField("_pn", LongType()),
        StructField("_pnt", LongType()),
        StructField("_pok", LongType()),
        StructField("_pstate", BinaryType()),
    ])

    def build(batches):
        accs: dict = {}       # hk -> [n_docs, n_tokens, n_ok, sketch]
        originals: dict = {}  # hk -> original domain value

        def flush():
            return pd.DataFrame({
                "domain": [originals[hk] for hk in accs],
                "_pn": [a[0] for a in accs.values()],
                "_pnt": [a[1] for a in accs.values()],
                "_pok": [a[2] for a in accs.values()],
                "_pstate": [a[3].serialize() for a in accs.values()],
            })

        for pdf in batches:
            if pdf.empty:
                continue
            ctx = fam.prep(pdf["_fp"])
            # F.sum semantics: nulls don't contribute (null text rows
            # still count in n_docs, like count(*))
            nt = pd.to_numeric(pdf["_nt"], errors="coerce") \
                .fillna(0).to_numpy(np.int64)
            ok = pd.to_numeric(pdf["_ok"], errors="coerce") \
                .fillna(0).to_numpy(np.int64)
            for hk, kv, idx in _iter_groups(pdf, ["domain"]):
                a = accs.get(hk)
                if a is None:
                    a = accs[hk] = [0, 0, 0, fam.make()]
                    originals[hk] = kv[0]
                a[0] += int(len(idx))
                a[1] += int(nt[idx].sum())
                a[2] += int(ok[idx].sum())
                fam.update(a[3], ctx, idx)
            if len(accs) >= max_groups:
                yield flush()
                accs, originals = {}, {}
        if accs:
            yield flush()

    partial = base.mapInPandas(build, partial_schema)

    final_schema = StructType([
        base.schema["domain"],
        StructField("n_docs", LongType()),
        StructField("n_unique", LongType()),
        StructField("n_tokens", LongType()),
        StructField("_n_ok", LongType()),
    ])

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = _StateMerger().merge_blobs(pdf["_pstate"]).sk
        return pd.DataFrame({
            "domain": [pdf["domain"].iloc[0]],
            "n_docs": [int(pdf["_pn"].sum())],
            "n_unique": [0 if merged is None else int(merged.estimate())],
            "n_tokens": [int(pdf["_pnt"].sum())],
            "_n_ok": [int(pdf["_pok"].sum())],
        })

    return partial.groupBy("domain").applyInPandas(merge_group,
                                                   final_schema)


def domain_drop_list(stats: DataFrame, blocklist=(),
                     max_dup_frac: float | None = None,
                     min_pass_frac: float | None = None,
                     min_docs: int | None = None) -> DataFrame:
    """Derive ``(domain, reason)`` drops from a ``domain_stats`` table:
    explicit blocklist membership plus threshold rules. First matching
    reason wins (blocklist > dup > quality > too_small) so the output
    is deterministic."""
    reason = F.when(F.lit(False), F.lit(""))
    if blocklist:
        reason = F.when(F.col("domain").isin(*list(blocklist)),
                        F.lit("blocklist"))
    if max_dup_frac is not None:
        reason = reason.when(F.col("dup_frac") > max_dup_frac,
                             F.lit("dup"))
    if min_pass_frac is not None:
        reason = reason.when(F.col("pass_frac") < min_pass_frac,
                             F.lit("quality"))
    if min_docs is not None:
        reason = reason.when(F.col("n_docs") < min_docs,
                             F.lit("too_small"))
    return (stats.select("domain", reason.alias("reason"))
            .where(F.col("reason").isNotNull()))


def filter_by_domain(df: DataFrame, domain_col: str,
                     drops: DataFrame) -> DataFrame:
    """Remove documents of dropped domains: broadcast anti-join (the
    drop list is domain-bounded; the corpus never shuffles)."""
    d = drops.select(F.col("domain").alias(domain_col)).distinct()
    return df.join(F.broadcast(d), domain_col, "left_anti")


def cap_per_domain(df: DataFrame, domain_col: str, max_docs: int,
                   order_by: list[str]) -> DataFrame:
    """Keep at most ``max_docs`` documents per domain, chosen by the
    explicit total order ``order_by`` (RefinedWeb-style host cap). The
    order key must be total (include the id column last) so the kept
    set is layout-deterministic."""
    if max_docs < 1:
        raise ValueError("max_docs must be >= 1")
    w = Window.partitionBy(domain_col).orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_by])
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_docs).drop("_rn"))
