"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (SURVEY.md §2) at a scale
where the sketch is in its EXACT regime (retained items below sketch
capacity), so results hash-match the DuckDB oracle bit-for-bit; pytest
covers the approximate regime against error bounds separately
(tests/test_functions_spark.py, tests/test_sketches_core.py).

Engine quantile rank rule == DuckDB ``quantile_disc``: value at rank
``max(ceil(p*n), 1)`` (see sketches/kll.py).
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasketches_spark_spark import functions as dsf
from datasketches_spark_spark.operators import (
    distinct_measure,
    freqitems_measure,
    percentile_measure,
    sketch_accumulate,
    sketch_grouped_agg,
)
from datasketches_spark_spark.sources import (
    arrow_local_df, read_table, run_concurrently, session_conf)

# Sketch sizes chosen so sf0.01 (and sf0.1 for the pipeline queries on
# `events`) stays in the exact regime; see module docstring.
_QK = 262_144        # quantile sketch k (l_returnflag group ~20k rows at sf0.01)
_TK = 16_384         # theta k (user_id NDV 1.5k at sf0.1)


# Probe queries for the q16 BM25 leg: fixed terms from the corpus
# vocabulary, a user-supplied dimension (bounded by construction).
_BM25_QUERIES = [("q1", "spark window merge"),
                 ("q2", "customer order join"),
                 ("q3", "stream filter vector hash")]


def _rotate_persisted(owner, attr: str, new_df):
    """Cap a query function's persisted-DataFrame residency at ONE
    cached copy across repeated invocations (bench runs each query 3x
    per session; the returned result DF is lazy, so a function cannot
    unpersist its OWN cache). The previous handle may belong to a
    stopped session — unpersist best-effort. Returns ``new_df``."""
    prev = getattr(owner, attr, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    setattr(owner, attr, new_df)
    return new_df


@contextlib.contextmanager
def _installed_conf(spark: SparkSession, conf: dict[str, str]):
    """:func:`session_conf` for a query whose SQL functions read ``conf``
    when they are registered: ``dss.install`` runs under ``conf`` inside
    the block, and again after the restore, also on an exception."""
    import datasketches_spark_spark as dss
    try:
        with session_conf(spark, conf):
            dss.install(spark)
            yield
    finally:
        dss.install(spark)


# --------------------------------------------------------------------- queries

def _q01_percentile_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two measures, one scan, one state-only shuffle (map-side sketching
    via sketch_grouped_agg — raw rows never cross the exchange)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (sketch_grouped_agg(
                li, ["l_returnflag"],
                percentile_measure("p50_qty", "l_quantity", 0.5,
                                   impl="MERGEABLE", k=_QK),
                percentile_measure("p95_price", "l_extendedprice", 0.95,
                                   impl="MERGEABLE", k=_QK))
            .orderBy("l_returnflag"))


def _q02_percentile_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four percentiles per (returnflag, linestatus) from ONE sketch per
    group (multi-percentage estimate) — one scan, one state shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    agg = sketch_grouped_agg(
        li, ["l_returnflag", "l_linestatus"],
        percentile_measure("qs", "l_extendedprice", [0.25, 0.5, 0.75, 0.95],
                           impl="MERGEABLE", k=_QK))
    return (agg.select("l_returnflag", "l_linestatus",
                       F.element_at("qs", 1).alias("p25"),
                       F.element_at("qs", 2).alias("p50"),
                       F.element_at("qs", 3).alias("p75"),
                       F.element_at("qs", 4).alias("p95"))
            .orderBy("l_returnflag", "l_linestatus"))


def _q03_percentile_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: accumulate per day -> filter window -> combine -> estimate.

    The reference's distinguishing capability (README.md:68-100): sketch
    summaries per time bucket, merged over an arbitrary later-chosen subset
    without rescanning raw data. Two-phase map-side combine via
    sketch_accumulate."""
    ev = read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    summaries = sketch_accumulate(
        ev.select(day, "value"), ["day"], "value",
        family="quantile", impl="MERGEABLE", k=_QK)
    merged = (summaries
              .where((F.col("day") >= "2024-01-08") & (F.col("day") < "2024-01-22"))
              .agg(dsf.approx_percentile_combine("state").alias("m")))
    est = dsf.approx_percentile_estimate("m", [0.5, 0.95])
    return merged.select(F.element_at(est, 1).alias("p50"),
                         F.element_at(est, 2).alias("p95"))


def _q04_pmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_pmf_estimate over per-flag accumulate states: equal-width
    histogram mass from the sketch (min-anchored bins; the reference's
    0-anchor bug is documented and replayed in tests)."""
    li = read_table(spark, sf_dir, "lineitem")
    summ = sketch_accumulate(li, ["l_returnflag"], "l_quantity",
                             family="quantile", impl="MERGEABLE", k=_QK)
    pmf = dsf.approx_pmf_estimate("state", 4)
    return (summ.select("l_returnflag",
                        F.element_at(pmf, 1).alias("b0"),
                        F.element_at(pmf, 2).alias("b1"),
                        F.element_at(pmf, 3).alias("b2"),
                        F.element_at(pmf, 4).alias("b3"))
            .orderBy("l_returnflag"))


def _q05_ndv_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped NDV via the Theta family through sketch_grouped_agg —
    map-side partial sketches, state-only exchange."""
    ev = read_table(spark, sf_dir, "events")
    return (sketch_grouped_agg(ev, ["event_type"],
                               distinct_measure("ndv_users", "user_id", k=_TK))
            .orderBy("event_type"))


def _q06_ndv_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count accumulate -> window filter -> combine -> estimate:
    the reference's summary-table pipeline on the Theta family."""
    ev = read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    summaries = sketch_accumulate(ev.select(day, "user_id"), ["day"], "user_id",
                                  family="theta", k=_TK)
    merged = (summaries.where(F.col("day") < "2024-01-15")
              .agg(dsf.approx_count_distinct_combine("state").alias("m")))
    return merged.select(dsf.approx_count_distinct_estimate("m").alias("ndv_users"))


def _q07_ndv_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native DataSketches HLL path (JVM TypedImperativeAggregate)."""
    ev = read_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(dsf.approx_count_distinct_hll("user_id").alias("ndv_users"))
            .orderBy("event_type"))


def _q08_freqitems_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over a dimension join (part brands): freq-items
    aggregate with NO_FALSE_POSITIVES and estimate-desc ordering, broadcast
    dimension join before the sketch."""
    li = read_table(spark, sf_dir, "lineitem")
    pt = read_table(spark, sf_dir, "part")
    # broadcast the small dim: lineitem ⋈ part is a broadcast-hash join
    joined = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    # single-group aggregate via map-side sketching: each partition emits one
    # small freq-items state; only ~num_partitions states reach the one
    # merging task (round 1 shuffled every raw row to it).
    fi = sketch_grouped_agg(joined, [], freqitems_measure("fi", "p_brand"))
    return fi.select(F.inline("fi")).orderBy(F.desc("estimated"), "item")


def _q09_freqitems_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freq-items accumulate -> combine -> estimate lifecycle with the
    merged heavy-hitter list exploded to rows (inline pattern)."""
    od = read_table(spark, sf_dir, "orders")
    summ = sketch_accumulate(od, ["o_orderstatus"], "o_orderpriority",
                             family="freq")
    merged = summ.agg(dsf.approx_freqitems_combine("state").alias("m"))
    est = merged.select(dsf.approx_freqitems_estimate("m").alias("fi"))
    return est.select(F.inline("fi")).orderBy(F.desc("estimated"), "item")


def _q10_freqitems_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-typed freq-items (ItemsSketch<Long> analog): top user_ids by
    event volume, exact in the NO_FALSE_POSITIVES regime."""
    li = read_table(spark, sf_dir, "lineitem")
    fi = sketch_grouped_agg(li, [],
                            freqitems_measure("fi", "l_suppkey",
                                              item_type="long"))
    return (fi.select(F.inline("fi"))
            .orderBy(F.desc("estimated"), "item").limit(10))


def _q11_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary with a sketch percentile column:
    exact aggregates stay JVM-side (whole-stage codegen), only the sketch
    runs through Arrow."""
    li = read_table(spark, sf_dir, "lineitem")
    # sum over integer-valued doubles (l_quantity) and integer cents is
    # order-independent — exact match with the oracle regardless of
    # partial-aggregation order; a raw double sum would differ in the last
    # bits between Spark's partial/final tree and DuckDB's scan order.
    # floor(), not round(): both engines floor the identical IEEE double
    # (l_extendedprice*100), whereas Spark rounds via BigDecimal HALF_UP on
    # the shortest-decimal repr and DuckDB via C round on the binary value —
    # they disagree on half-cent boundaries (CORRECTNESS_r01 q11 hash miss).
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    filtered = li.where(F.col("l_shipdate") <= "1998-09-01")
    # Spark cannot mix a grouped-agg pandas UDF with JVM aggregates in one
    # Aggregate ([INVALID_PANDAS_UDF_PLACEMENT]), so the sketch runs as a
    # separate two-phase aggregation and joins back on the (tiny) group keys.
    exact = (filtered.groupBy("l_returnflag", "l_linestatus")
             .agg(F.sum("l_quantity").alias("sum_qty"),
                  F.sum(cents).alias("sum_base_price_cents"),
                  F.count("*").alias("count_order")))
    sketched = sketch_accumulate(filtered, ["l_returnflag", "l_linestatus"],
                                 "l_quantity", family="quantile",
                                 impl="MERGEABLE", k=_QK)
    sketched = sketched.select(
        "l_returnflag", "l_linestatus",
        dsf.approx_percentile_estimate("state", 0.9).alias("p90_qty"))
    return (exact.join(sketched, ["l_returnflag", "l_linestatus"])
            .orderBy("l_returnflag", "l_linestatus"))


def _q12_percentile_impls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three quantile impls (KLL / REQ / default=REQ per conf) through
    the oracle on l_quantity — integer-valued, exactly representable in the
    float32 the KLL/REQ sketches use (l_extendedprice would lose float32
    precision; the MERGEABLE/float64 impl covers that in q01/q02)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (sketch_grouped_agg(
                li, ["l_returnflag"],
                # default impl (conf: REQ) — covers approx_percentile_ex
                percentile_measure("p50_default", "l_quantity", 0.5,
                                   impl=None, k=65_536),
                percentile_measure("p90_kll", "l_quantity", 0.9,
                                   impl="KLL", k=262_144),
                percentile_measure("p99_req", "l_quantity", 0.99,
                                   impl="REQ", k=65_536))
            .orderBy("l_returnflag"))


def _q13_percentile_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text path for approx_percentile_ex (default conf impl = REQ) via
    dss.sql — the two-phase front-end (datasketches_spark_spark/sql.py):
    map-side partial sketches (MapInPandas before the exchange, like q01's
    plan), state-only shuffle, merge. Exact regime via a conf-tuned k.
    The conf is saved and restored so nothing leaks into later queries."""
    import datasketches_spark_spark as dss
    with session_conf(spark,
                      {"spark.sql.dataSketches.quantiles.req.k": "65536"}):
        read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
        # conf is read eagerly while building the two-phase plan
        return dss.sql(spark, """
            SELECT l_returnflag,
                   approx_percentile_ex(l_quantity, 0.5) AS p50_qty,
                   approx_percentile_req(l_quantity, 0.95) AS p95_qty
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """)


# ----------------------------------------------------- LLM-pipeline queries

def _q14_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup, three hash-gated legs. Leg 'exact': duplicate
    groups under the distinct-token-set fingerprint — one JVM hash
    shuffle on 16-B fingerprints (operators/dedup.py::exact_dedup_groups).
    Leg 'norm': normalization-invariant dedup (functions/text.py::
    normalize_text + doc_fingerprint) over a corpus with PLANTED variants:
    the documents are unioned with a re-keyed copy (doc_id + 1e8), then
    roughed deterministically (odd ids uppercased, id%3==0 double-spaced)
    — raw fingerprints see distinct bytes, normalized fingerprints must
    collapse every variant group (>=2 members each, some with 2 raw
    variants), so the gate genuinely exercises the normalization."""
    from datasketches_spark_spark.functions.text import (
        doc_fingerprint, normalize_text, token_set_fingerprint)
    from datasketches_spark_spark.operators import exact_dedup_groups
    docs = read_table(spark, sf_dir, "documents")
    exact = (exact_dedup_groups(docs, "doc_id", token_set_fingerprint("text"))
             .select(F.lit("exact").alias("leg"),
                     F.col("group_id").cast("string").alias("grp"),
                     F.col("n_dups").alias("n"),
                     F.lit(0).cast("long").alias("n_var"),
                     F.col("group_id").alias("min_doc")))
    both = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100_000_000).alias("doc_id"), "text"))
    roughed = F.when(F.col("doc_id") % 2 == 1, F.upper(F.col("text"))) \
        .when(F.col("doc_id") % 3 == 0,
              F.replace(F.col("text"), F.lit(" "), F.lit("  "))) \
        .otherwise(F.col("text"))
    d = both.select("doc_id", roughed.alias("t"))
    norm = (d.groupBy(doc_fingerprint(normalize_text("t")).alias("grp"))
            .agg(F.count("*").alias("n"),
                 F.countDistinct(F.md5("t")).alias("n_var"),
                 F.min("doc_id").alias("min_doc"))
            .where(F.col("n") > 1)
            .select(F.lit("norm").alias("leg"), "grp", "n",
                    F.col("n_var").cast("long").alias("n_var"), "min_doc"))
    # Leg 'span' (round 11, operators/dedup.py::duplicated_spans): the
    # fixed-window form of suffix-array substring dedup (Lee et al.
    # 2021) — cross-document 8-token windows merged into maximal
    # per-doc spans; one corpus scan, stacked window functions on the
    # gram key (no rescan branch), gaps-and-islands span merge. Per doc:
    # n = duplicated windows, n_var = span count, min_doc = tokens
    # covered by spans.
    from datasketches_spark_spark.operators import duplicated_spans
    span = (duplicated_spans(docs, "doc_id", "text", k=8)
            .groupBy("doc_id")
            .agg(F.sum("n_windows").alias("n"),
                 F.count("*").alias("n_var"),
                 F.sum(F.col("span_end") - F.col("span_start"))
                 .alias("min_doc"))
            .select(F.lit("span").alias("leg"),
                    F.col("doc_id").cast("string").alias("grp"),
                    "n", "n_var", "min_doc"))
    return exact.unionByName(norm).unionByName(span).orderBy("leg", "grp")


def _q15_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over word-trigram shingle sets, verified
    with exact Jaccard — bucketed candidate generation, never all-pairs.
    128 hashes / 32 bands: P(miss a J>=0.8 pair) ~ 5e-8, so the LSH output
    equals the exact-Jaccard oracle."""
    from datasketches_spark_spark.operators import minhash_dedup_pairs
    docs = read_table(spark, sf_dir, "documents")
    return (minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
            .orderBy("id_a", "id_b"))


def _q16_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text mining, three legs. Leg 'gram': top-10 word bigrams via the
    frequent-items sketch (exact regime: distinct bigrams < maxMapSize),
    two-phase map-side sketching. Leg 'bm25' (round 11): Okapi BM25
    top-10 documents per probe query (operators/retrieval.py::bm25_topk
    — broadcast query-term prune inside the scan stage, match-bounded
    shuffles only, window-df instead of a rescan branch, WindowGroupLimit
    top-k; scores rounded to 6 decimals BEFORE ranking so independent
    engines rank identically)."""
    from pyspark.sql import Window
    from datasketches_spark_spark.functions.text import ngrams, tokenize
    from datasketches_spark_spark.operators import bm25_topk
    docs = read_table(spark, sf_dir, "documents")
    # r18 (guide §2.5): the one-file fixture scan ran the tokenize ->
    # bigram explode -> map-side sketch chain as a single task; spread
    # the projected text across the cores first (exact-regime sketch:
    # partial-sketch merge order cannot change the estimates).
    # r18 session 3 (guide §1.2/§2.4): the three legs tokenized the
    # corpus FIVE times per run (gram once, bm25's stats+match passes,
    # the index build's tf+stats passes) behind TWO separate spread
    # checkpoints. Tokenize ONCE into a materialized (doc_id, toks)
    # table and share it: every leg consumes the same token arrays
    # (tokens_col=), so values are identical by construction and the
    # corpus text is split exactly once per run.
    from datasketches_spark_spark.operators.retrieval import _spread
    tok = (_spread(docs.select("doc_id", "text"))
           .select("doc_id", tokenize("text").alias("toks"))
           .localCheckpoint())
    grams = tok.select(F.explode(ngrams(F.col("toks"), 2)).alias("bigram"))
    fi = sketch_grouped_agg(grams, [],
                            freqitems_measure("fi", "bigram",
                                              max_map_size=65_536))
    gw = Window.partitionBy(F.lit(0)).orderBy(F.desc("estimated"), "item")
    gram = (fi.select(F.inline("fi"))
            .withColumn("rk", F.row_number().over(gw))
            .where(F.col("rk") <= 10)
            .select(F.lit("gram").alias("leg"), F.lit("").alias("qid"),
                    F.col("rk").cast("long").alias("rk"),
                    F.col("item"),
                    F.col("estimated").cast("double").alias("v")))
    bm = bm25_topk(tok, "doc_id", None, _BM25_QUERIES, k=10,
                   tokens_col="toks")
    bm25 = bm.select(F.lit("bm25").alias("leg"),
                     F.col("query_id").alias("qid"),
                     F.col("rank").cast("long").alias("rk"),
                     F.col("doc_id").cast("string").alias("item"),
                     F.col("score").alias("v"))
    # Leg 'bm25x' (round 11): the SAME queries served from a persisted
    # inverted index (build_text_index -> query_text_index — postings
    # parquet partitioned by term-hash bucket, df precomputed at build,
    # probes read only the matched buckets via PartitionFilters). Must
    # be row-identical to the direct leg: the gate pins the whole
    # build -> persist -> prune -> score path against the same oracle.
    import shutil
    import tempfile
    from datasketches_spark_spark.operators import (build_text_index,
                                                    query_text_index)

    def _bmx_leg():
        # per-call private dir: a world-shared fixed /tmp path races
        # when two sessions rebuild/probe the same fixture concurrently
        root = tempfile.mkdtemp(prefix="dss_txtidx_")
        try:
            path = root + "/idx"
            build_text_index(tok, "doc_id", None, path,
                             num_buckets=16, tokens_col="toks")
            # localCheckpoint materializes the probe results (k rows
            # per query) so the index dir can be removed before the
            # caller evaluates the returned lazy DataFrame — without it
            # every bench/correctness run leaked a postings dir in /tmp
            return (query_text_index(spark, path, _BM25_QUERIES, k=10)
                    .select(F.lit("bm25x").alias("leg"),
                            F.col("query_id").alias("qid"),
                            F.col("rank").cast("long").alias("rk"),
                            F.col("doc_id").cast("string").alias("item"),
                            F.col("score").alias("v"))
                    .localCheckpoint())
        finally:
            shutil.rmtree(root, ignore_errors=True)

    # r18 optimization (guide §2.6, overlap independent jobs): the
    # index build+probe chain is a sequence of blocking driver calls
    # (two partitioned writes, a stats read, the probe checkpoint)
    # whose stages leave most cores idle; run it in one driver thread
    # while the gram and direct-bm25 legs materialize in another —
    # each leg's rows are computed exactly as before, just not
    # serialized behind one another.
    bmx, (gram_ck, bm25_ck) = run_concurrently(
        _bmx_leg, lambda: (gram.localCheckpoint(), bm25.localCheckpoint()))
    return gram_ck.unionByName(bm25_ck).unionByName(bmx) \
        .orderBy("leg", "qid", "rk")


def _q17_simhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fully under the oracle gate, two legs. Leg 'sig': the
    60-bit portable-hash signature per document (functions/text.py::
    simhash_expr — md5-prefix token hash both engines compute; per-bit
    majority vote emitted as a bit string). Leg 'pair': near-dup PAIRS at
    Hamming distance <= 3 produced by the 4x16-bit pigeonhole bucket +
    popcount-verify machinery (operators/dedup.py::
    simhash_pairs_from_sigs) running ON those signatures — the full dedup
    candidate-generation plan, hash-gated bit-for-bit against an
    all-pairs DuckDB oracle on the 150-doc subset. The engine-hash fast
    path (simhash via xxhash64 -> simhash_dedup_pairs) shares this exact
    machinery and is pytest-covered (Hamming property + recall)."""
    from datasketches_spark_spark.functions.text import simhash_expr
    from datasketches_spark_spark.operators import simhash_pairs_from_sigs
    docs = read_table(spark, sf_dir, "documents")
    # localCheckpoint = evaluation barrier: the signature expression is a
    # deep HOF chain, and without the barrier projection collapse would
    # re-inline it into every downstream reference (sig leg, n_ones,
    # chunk explosion) — the ngrams re-evaluation lesson (BASELINE.md r7)
    base = (docs.where(F.col("doc_id") < 150)
            .select("doc_id", simhash_expr("text").alias("sig"))
            .localCheckpoint())
    sigleg = base.select(
        F.lit("sig").alias("leg"), F.col("doc_id").alias("a"),
        (F.length("sig")
         - F.length(F.replace(F.col("sig"), F.lit("1"), F.lit(""))))
        .cast("long").alias("b"),
        F.col("sig").alias("h"))
    lsig = base.select("doc_id", F.conv("sig", 2, 10).cast("long").alias("s"))
    pairs = simhash_pairs_from_sigs(lsig, "doc_id", "s", max_distance=3)
    pairleg = pairs.select(
        F.lit("pair").alias("leg"), F.col("id_a").alias("a"),
        F.col("id_b").alias("b"), F.col("hamming").cast("string").alias("h"))
    return sigleg.unionByName(pairleg).orderBy("leg", "a", "b")


def _q18_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, two legs. Leg 'rhp': pairs via the RHP-LSH-prefiltered exact re-rank
    (operators/similarity.py::cosine_pairs prefilter="rhp") — the 100-TB
    path: banded signatures -> bucket-local candidate join -> exact JVM
    cosine, never a block self-join over the corpus. The corpus is the
    embeddings table plus a deterministic near-dup twin for every even
    vec_id (component 0 scaled 1.02 in float64 -> cosine >= 0.9999 to its
    original, while unrelated pairs stay <= ~0.52), so threshold 0.98
    separates with huge margin on both sides; rhp_plan sizes the banding
    for per-pair miss <= 1e-9 AT the threshold (~1e-80 for the actual
    twins), so the LSH output equals the exact self-join oracle. Output
    is integer ids only — cosines stay internal."""
    from datasketches_spark_spark.operators import cosine_pairs
    emb = read_table(spark, sf_dir, "embeddings") \
        .select("vec_id", F.col("embedding").cast("array<double>")
                .alias("embedding"))
    twins = (emb.where(F.col("vec_id") % 2 == 0)
             .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                     F.transform(
                         "embedding",
                         lambda x, i: F.when(i == 0, x * 1.02).otherwise(x))
                     .alias("embedding")))
    corpus = emb.unionByName(twins)
    # corpus_size scales the RHP bits floor with log(n) (round-9 scale
    # proof: fixed bits let background collisions grow ~n^2); the count
    # is a cheap parquet rowcount, paid once per build. bg_cosine=0.55
    # is this corpus's measured background ceiling (unrelated pairs stay
    # <= ~0.52) — the floor sizes against the REAL collision rate
    # instead of the conservative clustered-data default.
    n = emb.count() * 3 // 2
    rhp = (cosine_pairs(corpus, threshold=0.98, prefilter="rhp",
                        corpus_size=n, bg_cosine=0.55)
           .select(F.lit("rhp").alias("leg"),
                   F.lit(0).cast("long").alias("c"), "id_a", "id_b"))
    # Leg 'sem' (round 11, operators/similarity.py::semantic_dedup_drops):
    # SemDeDup cluster-then-dedup over the same twin corpus — nearest of
    # 8 deterministic seed centroids (lowest vec_ids), then the
    # within-cluster farthest-from-centroid keep rule at eps=0.98. Every
    # twin pair lands in one cluster and yields exactly one drop row, so
    # the leg pins assignment + priority + blocker selection end to end.
    from datasketches_spark_spark.operators import semantic_dedup_drops
    cents = emb.where("vec_id < 8")
    sem = (semantic_dedup_drops(corpus, cents, eps=0.98)
           .select(F.lit("sem").alias("leg"),
                   F.col("cluster").alias("c"),
                   F.col("id_kept").alias("id_a"),
                   F.col("id_dropped").alias("id_b")))
    return rhp.unionByName(sem).orderBy("leg", "c", "id_a", "id_b")


def _q19_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 20 query vectors: per-partition numpy
    top-k then a tiny global re-rank (shuffle = partitions x queries x k
    rows, not the corpus). The LSH-bucketed variant (rhp_ann_topk) is the
    sub-linear scale path, recall-tested in pytest."""
    from datasketches_spark_spark.operators import cosine_topk
    emb = read_table(spark, sf_dir, "embeddings")
    qs = [(r.vec_id, r.embedding)
          for r in emb.where("vec_id < 20").collect()]  # small query set
    return cosine_topk(emb, qs, k=5).orderBy("query_id", "rank")


def _q20_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: exact counts JVM-side; token-count median
    via the quantile sketch and distinct sources via Theta (both exact
    regime), map-side-combined; tiny join on the 5 language keys."""
    from datasketches_spark_spark.functions.text import token_count
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select("lang", "source",
                    token_count("text").cast("long").alias("n_tokens"))
    exact = t.groupBy("lang").agg(F.count("*").alias("n_docs"),
                                  F.sum("n_tokens").alias("sum_tokens"))
    sk = sketch_grouped_agg(
        t, ["lang"],
        percentile_measure("p50_tokens", "n_tokens", 0.5,
                           impl="MERGEABLE", k=_QK),
        distinct_measure("ndv_sources", "source", k=_TK))
    return exact.join(sk, "lang").orderBy("lang")


def _q21_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features, three legs sharing one scan shape.
    Leg 'quality': token stats, stopword/distinct ratios
    (functions/text.py::quality_features). Leg 'repetition': Gopher-style
    duplicate-token/bigram fractions and top-bigram share
    (repetition_struct / repetition_fractions — struct bound to a named
    column so it evaluates ONCE per row; see the HOF re-evaluation note
    in its docstring). All pure JVM expressions; every fraction is a
    single integer division so values are bit-identical in DuckDB."""
    from datasketches_spark_spark.functions.text import (
        quality_features, repetition_fractions, repetition_struct)
    docs = read_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    quality = (docs.where(F.col("doc_id") < 50)
               .select(F.lit("quality").alias("leg"), "doc_id",
                       feats["n_tokens"].cast("long").alias("n_tokens"),
                       F.lit(0).cast("long").alias("n2"),
                       F.lit(0).cast("long").alias("n3"),
                       feats["distinct_ratio"].alias("m1"),
                       feats["stopword_ratio"].alias("m2"),
                       feats["mean_token_len"].alias("m3")))
    base = (docs.where(F.col("doc_id") < 300)
            .select("doc_id", repetition_struct("text").alias("r")))
    fr = repetition_fractions(F.col("r"))
    rep = base.select(F.lit("repetition").alias("leg"), "doc_id",
                      F.col("r.n_tokens").cast("long").alias("n_tokens"),
                      F.col("r.n_distinct").cast("long").alias("n2"),
                      F.col("r.top_bigram_n").cast("long").alias("n3"),
                      fr["dup_token_frac"].alias("m1"),
                      fr["dup_bigram_frac"].alias("m2"),
                      fr["top_bigram_frac"].alias("m3"))
    # Leg 'ppl' (round 11, operators/lm.py): the CCNet-style statistical
    # quality filter — an add-k bigram LM trained on the FULL corpus
    # (map-side-combined count tables), then per-doc NLL/perplexity for
    # the scored slice via vocabulary joins. n2 carries the OOV-term
    # count; scores round before surfacing so the oracle is exact.
    from datasketches_spark_spark.operators import (perplexity_score,
                                                    train_bigram_lm)
    # r18: the model tables are vocabulary-bounded but their lineage is
    # a full-corpus explode — the scorer references `uni` three times
    # (first-token join, bigram-context join, the totals agg) and `bi`
    # once, so unchecked the corpus was re-tokenized four extra times
    # (q21's before-plan shows 24 parquet scans, zero reuse; guide §2.4).
    uni, bi = train_bigram_lm(docs, "text")
    uni, bi = uni.localCheckpoint(), bi.localCheckpoint()
    ppl = (perplexity_score(docs.where(F.col("doc_id") < 200),
                            "doc_id", "text", uni, bi, k=0.5)
           .select(F.lit("ppl").alias("leg"), "doc_id",
                   F.col("n_tokens").cast("long").alias("n_tokens"),
                   F.col("n_oov_terms").alias("n2"),
                   F.lit(0).cast("long").alias("n3"),
                   F.col("avg_nll").alias("m1"),
                   F.col("ppl").alias("m2"),
                   F.lit(0.0).alias("m3")))
    # Leg 'filter' (round 12, functions/quality_rules.py): the
    # Gopher/C4 heuristic rule suite — word-count bounds, mean word
    # length, symbol ratio, alpha-word fraction, stopword floor, bullet/
    # ellipsis line fractions, C4 blocklist — all counting in ONE bound
    # struct, every ratio a single integer division (exact across
    # engines). n2 = passes, n3 = rules failed.
    from datasketches_spark_spark.functions.quality_rules import (
        gopher_flags, gopher_metrics, gopher_struct)
    gb = (docs.where(F.col("doc_id") < 100)
          .withColumn("g", gopher_struct(F.col("text"))))
    gm = gopher_metrics(F.col("g"))
    gf = gopher_flags(F.col("g"))
    filt = gb.select(F.lit("filter").alias("leg"), "doc_id",
                     gm["n_words"].cast("long").alias("n_tokens"),
                     gf["passes"].cast("int").cast("long").alias("n2"),
                     gf["n_failed"].alias("n3"),
                     gm["mean_word_len"].alias("m1"),
                     gm["alpha_word_frac"].alias("m2"),
                     gm["bullet_line_frac"].alias("m3"))
    # Leg 'nb' (round 12, operators/classify.py): the fasttext-class
    # statistical quality/language classifier as closed-form Naive
    # Bayes — trained on the FULL corpus (label: lang='en'), scored on
    # the gated slice. Weights are integer micro-units, so the
    # document score is an ORDER-INDEPENDENT integer sum (no float-
    # summation caveat at all); the oracle refits the same model in
    # SQL, ln-term tree mirrored four-term for bit parity.
    from datasketches_spark_spark.operators import (
        score_token_classifier, train_token_classifier)
    wts, model = train_token_classifier(docs, "text",
                                        F.col("lang") == "en")
    nb = (score_token_classifier(docs.where(F.col("doc_id") < 200),
                                 "doc_id", "text", wts, model)
          .select(F.lit("nb").alias("leg"), "doc_id",
                  F.col("n_tokens"),
                  F.col("pred").cast("int").cast("long").alias("n2"),
                  F.col("n_oov").alias("n3"),
                  F.col("score").alias("m1"),
                  F.lit(0.0).alias("m2"),
                  F.lit(0.0).alias("m3")))
    return quality.unionByName(rep).unionByName(ppl) \
        .unionByName(filt).unionByName(nb) \
        .orderBy("leg", "doc_id")


def _q22_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (argmax stopword hits, fixed tie-break) as a
    pure per-row expression; distribution of predictions."""
    from datasketches_spark_spark.functions.text import lang_id
    docs = read_table(spark, sf_dir, "documents")
    return (docs.select(lang_id("text").alias("pred_lang"))
            .groupBy("pred_lang").agg(F.count("*").alias("n"))
            .orderBy("pred_lang"))


def _q23_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload + metadata struct, streaming
    byte-level feature extraction (mapInPandas), then relational rollup.
    Only integer features surface so the oracle comparison is exact."""
    from datasketches_spark_spark.operators import extract_features, with_payload
    docs = read_table(spark, sf_dir, "documents")
    feats = extract_features(with_payload(docs, "text"), "doc_id")
    joined = feats.join(docs.select("doc_id", "source"), "doc_id")
    return (joined.groupBy("source")
            .agg(F.count("*").alias("n_assets"),
                 F.sum("num_bytes").alias("total_bytes"),
                 F.max("num_bytes").alias("max_bytes"))
            .orderBy("source"))


def _q24_streaming_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming stateful sketch accumulation (extension beyond
    the reference, which has no streaming), in its multi-measure form
    (streaming/sketch_stream.py::sketch_accumulate_stream_multi): ONE
    applyInPandasWithState state-store pass maintains a quantile sketch
    AND a Theta user-set per event_type — the streaming twin of
    sketch_partial_multi (one checkpoint lineage instead of N stateful
    operators). Events replay as a file stream (availableNow, 2
    triggers); final states are estimated and oracle-checked like any
    batch result (exact regime, so medians and NDVs match DuckDB)."""
    import shutil
    import tempfile
    import uuid
    from datasketches_spark_spark.operators.sketch_agg import (
        distinct_measure, percentile_measure)
    from datasketches_spark_spark.streaming import (
        await_or_fail, sketch_accumulate_stream_multi)
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "value", "user_id")
    src = tempfile.mkdtemp(prefix="dss_q24_src_")
    ev.repartition(2).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = sketch_accumulate_stream_multi(
        stream, ["event_type"],
        [percentile_measure("p50_value", "value", 0.5,
                            impl="MERGEABLE", k=_QK),
         distinct_measure("ndv_users", "user_id", k=_TK)])
    name = f"q24_sink_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="dss_q24_ckpt_")
    # State partitions sized to the state cardinality (a handful of event
    # types), not the batch shuffle default: each state partition
    # checkpoints its own store per micro-batch (see q36's note).
    try:
        with session_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
            q = (out.writeStream.format("memory").queryName(name)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            await_or_fail(q, 300)
    finally:
        # memory sink rows live in the session; the replay source and
        # checkpoint dirs are dead once the stream drains — remove them
        # so repeated runs leave /tmp clean
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    final = spark.sql(f"""
        SELECT event_type, p50_value__state, ndv_users__state FROM (
          SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY n DESC) rn FROM {name}
        ) WHERE rn = 1""")
    return (final.select(
        "event_type",
        dsf.approx_percentile_estimate("p50_value__state", 0.5)
        .alias("p50_value"),
        dsf.approx_count_distinct_estimate("ndv_users__state")
        .alias("ndv_users"))
        .orderBy("event_type"))


def _q36_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state
    (streaming/sketch_stream.py::streaming_dedup ->
    dropDuplicatesWithinWatermark): the documents corpus is DUPLICATED
    (written twice) and replayed as a file stream over several triggers;
    dedup by content fingerprint (md5 of text) must emit each document
    exactly once, so the per-lang counts of the deduped stream equal the
    batch distinct counts — a fully SQL-expressible oracle even though
    the mechanism is a stateful stream. Event time is synthesized
    TIMESTAMP_NTZ on purpose (the engine's NTZ watermark cast is on the
    path). Extension beyond the reference (no streaming there); the
    training-pipeline shape: suppress re-crawled documents as they
    arrive instead of re-deduping the corpus in batch."""
    import glob
    import shutil
    import tempfile
    import uuid
    import pyarrow.parquet as pq
    from datasketches_spark_spark.streaming import (
        await_or_fail, streaming_dedup)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5("text").alias("fp"),
        (F.lit("2024-01-01").cast("timestamp_ntz")
         + F.make_interval(secs=(F.col("doc_id") % 100).cast("double"))
         ).alias("ts"))
    src = tempfile.mkdtemp(prefix="dss_q36_src_")
    ckpt = tempfile.mkdtemp(prefix="dss_q36_ckpt_")
    # r19 (fixing the r18 regression the round-18 verdict adjudicated as
    # real): r18's coalesce(1) wrote each corpus copy as ONE file, which
    # serialized BOTH the write (one task computes every md5) and each
    # trigger's ingest — slower in both driver runs, and one file per
    # corpus copy is unwritable at 100 TB. Keep the sharper 2-trigger
    # contract (every fingerprint re-arrives in a strictly LATER
    # trigger) but restore parallelism: each copy is N splittable files
    # and maxFilesPerTrigger=N ingests one whole copy per trigger. The
    # md5/interval projection is materialized once (localCheckpoint) so
    # the two copy writes don't recompute it. Counts are unchanged: the
    # result is the per-lang distinct-fp count either way.
    n_files = 4
    docs = docs.repartition(n_files).localCheckpoint()
    name = f"q36_dedup_sink_{uuid.uuid4().hex[:8]}"
    try:
        # Each corpus copy must be exactly n_files non-empty part files:
        # with fewer, one trigger would take files of both copies.
        for copy, mode in enumerate(("overwrite", "append"), 1):
            docs.write.mode(mode).parquet(src)  # the append duplicates all
            n = sum(1 for f in glob.glob(f"{src}/part-*")
                    if pq.read_metadata(f).num_rows) - (copy - 1) * n_files
            if n != n_files:
                raise RuntimeError(f"q36: corpus copy {copy} wrote {n} "
                                   f"non-empty part files, not {n_files}")
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", n_files).parquet(src))
        deduped = streaming_dedup(stream, ["fp"], event_time="ts",
                                  delay="1 day")
        # State partitions sized to the within-watermark fingerprint
        # volume at THIS SF (tens of thousands of keys -> 8 stores is
        # plenty; each state partition checkpoints per micro-batch, so
        # over-partitioning is pure overhead). At 100 TB the
        # within-watermark key volume is what should set this — the
        # cluster default, or higher.
        with session_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
            q = (deduped.writeStream.format("memory").queryName(name)
                 .outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            await_or_fail(q, 300)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.sql(f"""
        SELECT lang, count(*) AS n_docs, count(DISTINCT fp) AS n_unique
        FROM {name} GROUP BY lang ORDER BY lang""")


def _q37_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    (functions/embeddings.py::quantize_int8) — pure JVM array-lambda
    expressions, no Python, no shuffle; the 4x storage lever applied
    before any ANN indexing. Rounding is explicit half-up
    (floor(x/scale + 0.5)) so the DuckDB oracle reproduces the integer
    codes bit-for-bit; codes flatten to csv because the driver's
    canonicalizer hashes scalar cells only."""
    from datasketches_spark_spark.functions import quantize_int8
    emb = read_table(spark, sf_dir, "embeddings")
    qz = quantize_int8("embedding")
    return (emb.select(
        "vec_id",
        qz["scale"].alias("scale"),
        F.array_join(F.transform(qz["q"],
                                 lambda x: x.cast("string")), ",")
         .alias("codes"))
        .orderBy("vec_id"))


def _q38_media_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real media codecs without native libraries, one leg per modality.
    Leg 'img': every document gets a solid-color 8x4 PPM payload, then
    the pure-numpy codec runs end-to-end — P6 decode -> nearest-neighbor
    resize to 4x2 -> P6 re-encode -> decoded-pixel features
    (operators/imagecodec.py) — rolled up per source; solid colors
    survive nearest resampling exactly, so DuckDB recomputes every
    feature relationally. Leg 'aud': every document gets a square-wave
    PCM16 WAV payload (dyadic-rational amplitude that survives int16
    quantization bit-exactly), decoded by the pure-numpy RIFF/WAVE codec
    (operators/audiocodec.py) into sample features (RMS == amplitude,
    ZCR == 1.0 exactly for a square wave); frames are SUMMED (exact
    integers) so no float-summation-order term enters the hash. Leg
    'jpeg' (round 8): every document gets a REAL baseline-JPEG payload —
    encoded AND decoded by the pure-numpy T.81 codec
    (operators/jpegcodec.py: FDCT/Huffman out, Huffman/IDCT back) inside
    the same extract_image_features operator; solid grayscale at an even
    offset from 128 makes the lossy roundtrip bit-exact (DC quantizes to
    an exact integer with zero AC), so DuckDB recomputes the decoded
    means relationally. Leg 'png' (round 8): RGB payloads through the
    pure-Python PNG codec (operators/pngcodec.py — zlib DEFLATE +
    scanline filters), which is LOSSLESS, so the decoded channel means
    equal the encoded constants exactly; round 9: odd doc_ids carry a
    4-BIT PALETTE payload (packed scanlines, varying indices, constant
    palette color) so sub-8-bit bit-unpacking is under the same hash
    gate. Leg 'webp' (round 9): VP8L lossless payloads through the
    pure-Python prefix-code/LZ77 decoder (operators/webpcodec.py) —
    lossless, so decoded channel means equal the encoded constants.
    Leg 'mp3' (round 9): the metadata-only modality — synthetic MPEG1
    Layer III CBR chains through mp3_info's exact frame walk
    (operators/mp3codec.py); frame counts and integer-ms durations are
    integer math both engines recompute from doc_id. Leg 'vid' (round 8): every
    document gets a 4-frame Motion-JPEG AVI (operators/avicodec.py);
    sample_frames auto-detects the container and emits 2 evenly spaced
    REAL frames (0 and 3), each an independent JPEG decoded by
    extract_image_features — frame grays are even offsets from 128, so
    the whole container->sample->decode chain is bit-exact and DuckDB
    recomputes the sampled-frame means from doc_id alone. Leg 'rgbv'
    (round 11): the UNCOMPRESSED video sibling — 3-frame solid-color
    BI_RGB AVIs (operators/avicodec.py::encode_avi_rgb) through the
    same sample_frames machinery, each sampled DIB frame re-wrapped as
    a standalone BMP and decoded by the imagecodec raster path;
    lossless, so channel means are the exact planted constants and the
    red channel pins the endpoint sampling (frames 0 and 2 of 3). Leg
    'flac' (round 8): the same square wave through the pure-Python FLAC codec
    (operators/flaccodec.py — Rice-coded fixed-predictor residuals,
    LOSSLESS) and decode_audio's sniffing dispatcher, so the decoded
    features equal the WAV leg's construction exactly. All
    Python stages are single streaming Arrow passes with `source`
    carried through (keep_cols) — one scan per modality, no join-back
    shuffle; the only shuffles carry the per-source rollups."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType
    from datasketches_spark_spark.operators import (
        encode_ppm, encode_wav, extract_audio_features,
        extract_image_features, resize_images)

    # r18 optimization (guide §4.2/§4.5): every synthetic payload is a
    # pure function of a few small doc_id-derived integers, and the
    # derivations collapse thousands of rows onto tens-to-hundreds of
    # distinct parameter tuples — so each encoder memoizes per BATCH
    # (cache created inside the UDF call: no state survives the batch,
    # nothing is shared across runs; identical bytes per row as before).
    # The same applies to the decode side (operators/multimodal.py::
    # transform_payloads memoizes per batch on payload bytes).
    def _mk_img(r, g):
        cache = {}
        out = []
        for rv, gv in zip(r, g):
            key = (int(rv), int(gv))
            blob = cache.get(key)
            if blob is None:
                blob = cache[key] = encode_ppm(np.full(
                    (4, 8, 3), [key[0], key[1], 7], dtype=np.uint8))
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mk_wav(amp_k, n):
        cache = {}
        out = []
        for k, nf in zip(amp_k, n):
            key = (int(k), int(nf))
            blob = cache.get(key)
            if blob is None:
                a = (key[0] + 1) / 128
                x = np.where(np.arange(key[1]) % 2 == 0, a, -a)
                blob = cache[key] = encode_wav(x, 8000)
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mk_jpg(v, p):
        # even docs: 8-bit baseline SOF0; odd docs (round 11): the SAME
        # solid gray as 12-BIT extended-sequential SOF1 (value x16 — the
        # gray is always even, so (16v-2048)/32 stays integral and the
        # DC quantizes exactly in BOTH precisions) — the decoded 12-bit
        # mean is exactly 16x the 8-bit one, so one relational CASE on
        # doc parity covers both variants and the hash gate pins the
        # 16-bit-DQT/flat-table/uint16 decode path
        from datasketches_spark_spark.operators import encode_jpeg
        cache = {}
        out = []
        for vv, pp in zip(v, p):
            key = (int(vv), int(pp) % 2)
            blob = cache.get(key)
            if blob is None:
                if key[1]:
                    blob = encode_jpeg(
                        np.full((8, 16), key[0] * 16, dtype=np.uint16),
                        bits=12)
                else:
                    blob = encode_jpeg(
                        np.full((8, 16), key[0], dtype=np.uint8))
                cache[key] = blob
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mk_png(r, g):
        # even docs: 8-bit RGB; odd docs: 4-BIT PALETTE (round 9) with
        # varying indices that all map to the same solid color, so the
        # packed-scanline bit-unpacking path is hash-gated while the
        # decoded features stay identical to the RGB construction
        from datasketches_spark_spark.operators import (
            encode_png, encode_png_palette)
        idx4 = (np.arange(4 * 8, dtype=np.uint8) % 16).reshape(4, 8)
        cache = {}
        out = []
        for rv, gv in zip(r, g):
            key = (int(rv), int(gv))
            blob = cache.get(key)
            if blob is None:
                if key[0] % 2:
                    pal = np.tile([[key[0], key[1], 7]], (16, 1))
                    blob = encode_png_palette(idx4, pal, depth=4)
                else:
                    blob = encode_png(np.full(
                        (4, 8, 3), [key[0], key[1], 7], dtype=np.uint8))
                cache[key] = blob
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mk_webp(r, g):
        from datasketches_spark_spark.operators import encode_webp_lossless
        cache = {}
        out = []
        for rv, gv in zip(r, g):
            key = (int(rv), int(gv))
            blob = cache.get(key)
            if blob is None:
                blob = cache[key] = encode_webp_lossless(np.full(
                    (4, 8, 3), [key[0], key[1], 9], dtype=np.uint8))
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mk_mp3(k):
        # synthetic MPEG1 Layer III CBR chains (zero payloads): the
        # metadata walk is the codec under test, and every reported
        # number is integer math on (doc_id-derived) frame counts
        from datasketches_spark_spark.operators.mp3codec import _parse_header
        hdr = bytes([0xFF, 0xFB, 0x90, 0x00])  # MPEG1 L3 128k 44100
        flen = _parse_header(hdr, 0)["frame_len"]
        frame = hdr + b"\x00" * (flen - 4)
        cache = {}
        out = []
        for kv in k:
            key = int(kv)
            blob = cache.get(key)
            if blob is None:
                blob = cache[key] = frame * (key + 5)
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mp3_meta(p):
        from datasketches_spark_spark.operators import mp3_info
        cache = {}
        out_f, out_ms = [], []
        for blob in p:
            key = bytes(blob)
            res = cache.get(key)
            if res is None:
                info = mp3_info(key)
                res = cache[key] = (
                    info["n_frames"],
                    info["n_frames"] * 1152 * 1000 // info["sample_rate"])
            out_f.append(res[0])
            out_ms.append(res[1])
        return pd.DataFrame({"n_frames": out_f, "dur_ms": out_ms})

    def _mk_avi(v):
        from datasketches_spark_spark.operators import encode_avi_mjpeg
        cache = {}
        out = []
        for vv in v:
            key = int(vv)
            blob = cache.get(key)
            if blob is None:
                blob = cache[key] = encode_avi_mjpeg(
                    [np.full((8, 8), key + 2 * k, dtype=np.uint8)
                     for k in range(4)])
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mk_rgbv(v):
        # round 11: UNCOMPRESSED BI_RGB AVI — 3 solid-color frames whose
        # red channel encodes both the doc color and the frame ordinal,
        # so the sampled-frame means pin the DIB raster decode AND that
        # the sampler picked the evenly spaced endpoints (0 and 2)
        from datasketches_spark_spark.operators import encode_avi_rgb
        cache = {}
        out = []
        for vv in v:
            key = int(vv)
            blob = cache.get(key)
            if blob is None:
                blob = cache[key] = encode_avi_rgb(
                    [np.full((6, 10, 3), [key + 5 * k, 90, 9],
                             dtype=np.uint8) for k in range(3)])
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mk_flac(amp_k, n):
        from datasketches_spark_spark.operators import encode_flac
        cache = {}
        out = []
        for k, nf in zip(amp_k, n):
            key = (int(k), int(nf))
            blob = cache.get(key)
            if blob is None:
                a = (key[0] + 1) / 128
                x = np.where(np.arange(key[1]) % 2 == 0, a, -a)
                blob = cache[key] = encode_flac(x, 8000)
            out.append(blob)
        return pd.Series(out, dtype=object)

    def _mk_arj(v):
        # round 14: SEQUENTIAL ARITHMETIC (SOF9) — the T.81 QM-coder
        # encode+decode pair (operators/jpegarith.py) under the hash
        # gate; solid EVEN gray -> DC quantizes exactly at quality 50,
        # so the decoded mean is the planted value relationally
        from datasketches_spark_spark.operators.jpegcodec import (
            encode_jpeg_arith)
        cache = {}
        out = []
        for vv in v:
            key = int(vv)
            blob = cache.get(key)
            if blob is None:
                blob = cache[key] = encode_jpeg_arith(
                    np.full((8, 16), key, dtype=np.uint8), quality=50)
            out.append(blob)
        return pd.Series(out, dtype=object)

    # explicit annotations: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf cannot evaluate here
    _mk_img.__annotations__ = {"r": pd.Series, "g": pd.Series,
                               "return": pd.Series}
    _mk_wav.__annotations__ = {"amp_k": pd.Series, "n": pd.Series,
                               "return": pd.Series}
    _mk_jpg.__annotations__ = {"v": pd.Series, "p": pd.Series,
                               "return": pd.Series}
    _mk_png.__annotations__ = {"r": pd.Series, "g": pd.Series,
                               "return": pd.Series}
    _mk_webp.__annotations__ = {"r": pd.Series, "g": pd.Series,
                                "return": pd.Series}
    _mk_mp3.__annotations__ = {"k": pd.Series, "return": pd.Series}
    _mp3_meta.__annotations__ = {"p": pd.Series, "return": pd.DataFrame}
    _mk_avi.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _mk_rgbv.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _mk_flac.__annotations__ = {"amp_k": pd.Series, "n": pd.Series,
                                "return": pd.Series}
    _mk_arj.__annotations__ = {"v": pd.Series, "return": pd.Series}
    make_ppm = F.pandas_udf(_mk_img, BinaryType())
    make_wav = F.pandas_udf(_mk_wav, BinaryType())
    make_jpg = F.pandas_udf(_mk_jpg, BinaryType())
    make_png = F.pandas_udf(_mk_png, BinaryType())
    make_webp = F.pandas_udf(_mk_webp, BinaryType())
    make_mp3 = F.pandas_udf(_mk_mp3, BinaryType())
    mp3_meta = F.pandas_udf(
        _mp3_meta, "n_frames long, dur_ms long")
    make_avi = F.pandas_udf(_mk_avi, BinaryType())
    make_rgbv = F.pandas_udf(_mk_rgbv, BinaryType())
    make_flac = F.pandas_udf(_mk_flac, BinaryType())
    make_arj = F.pandas_udf(_mk_arj, BinaryType())

    docs = read_table(spark, sf_dir, "documents")
    # r18 optimization (guide §2.4): project the three narrow driver
    # columns the encoders need once and localCheckpoint them so the
    # ten legs share one parquet scan instead of re-running it per leg.
    # Measured either way, a repartition here LOSES at bench scale (the
    # per-task Python-runner fixed costs of 10 legs x N partitions
    # outweigh the parallelism on 5000 tiny rows; the webp leg that
    # motivated it was fixed at the source — webpcodec constant-table
    # memoization), and at real scale the scan is already split, so the
    # natural partitioning is kept.
    base = (docs.select(
        "doc_id", "source",
        (F.length("text") % 256).cast("int").alias("tmod"))
        .localCheckpoint())
    b2k = base.where(F.col("doc_id") < 2000)
    with_img = base.select(
        "doc_id", "source",
        make_ppm((F.col("doc_id") % 256).cast("int"),
                 F.col("tmod")).alias("payload"))
    resized = resize_images(with_img, "doc_id", width=4, height=2,
                            keep_cols=["source"])
    ifeats = extract_image_features(resized, "doc_id", keep_cols=["source"])
    img = (ifeats.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.max("width").cast("long").alias("i1"),
                F.max("height").cast("long").alias("i2"),
                F.avg("mean_r").alias("d1"),
                F.avg("mean_g").alias("d2"),
                F.avg("mean_b").alias("d3"))
           .select(F.lit("img").alias("leg"), "source", "n", "i1", "i2",
                   "d1", "d2", "d3"))
    clips = base.select(
        "doc_id", "source",
        make_wav((F.col("doc_id") % 64).cast("int"),
                 (F.lit(100) + F.col("doc_id") % 50).cast("int"))
        .alias("payload"))
    afeats = extract_audio_features(clips, "doc_id", keep_cols=["source"])
    aud = (afeats.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.sum("n_frames").cast("long").alias("i1"),
                F.max("sample_rate").cast("long").alias("i2"),
                F.avg("rms").alias("d1"),
                F.max("zero_cross_rate").alias("d2"),
                F.lit(0.0).alias("d3"))
           .select(F.lit("aud").alias("leg"), "source", "n", "i1", "i2",
                   "d1", "d2", "d3"))
    jpgs = base.select(
        "doc_id", "source",
        make_jpg((F.lit(78) + (F.col("doc_id") % 50) * 2).cast("int"),
                 (F.col("doc_id") % 2).cast("int"))
        .alias("payload"))
    jfeats = extract_image_features(jpgs, "doc_id", keep_cols=["source"])
    jpg = (jfeats.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.max("width").cast("long").alias("i1"),
                F.max("height").cast("long").alias("i2"),
                F.avg("mean_r").alias("d1"),
                F.avg("mean_g").alias("d2"),
                F.lit(0.0).alias("d3"))
           .select(F.lit("jpeg").alias("leg"), "source", "n", "i1", "i2",
                   "d1", "d2", "d3"))
    pngs = base.select(
        "doc_id", "source",
        make_png((F.col("doc_id") % 256).cast("int"),
                 F.col("tmod")).alias("payload"))
    pfeats = extract_image_features(pngs, "doc_id", keep_cols=["source"])
    png = (pfeats.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.max("width").cast("long").alias("i1"),
                F.max("height").cast("long").alias("i2"),
                F.avg("mean_r").alias("d1"),
                F.avg("mean_g").alias("d2"),
                F.avg("mean_b").alias("d3"))
           .select(F.lit("png").alias("leg"), "source", "n", "i1", "i2",
                   "d1", "d2", "d3"))
    # mp3 leg (round 9): metadata-only modality — synthetic CBR frame
    # chains through mp3_info's exact frame walk; frame counts and
    # integer-ms durations are pure integer math both engines compute
    mp3s = b2k.select(
        "doc_id", "source",
        make_mp3((F.col("doc_id") % 64).cast("int")).alias("payload"))
    mfeats = mp3s.select("doc_id", "source",
                         mp3_meta("payload").alias("m"))
    mp3 = (mfeats.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.sum("m.n_frames").cast("long").alias("i1"),
                F.sum("m.dur_ms").cast("long").alias("i2"),
                F.lit(44100.0).alias("d1"),
                F.lit(0.0).alias("d2"),
                F.lit(0.0).alias("d3"))
           .select(F.lit("mp3").alias("leg"), "source", "n", "i1", "i2",
                   "d1", "d2", "d3"))
    # webp leg (round 9): VP8L lossless — prefix-coded ARGB through the
    # pure-Python decoder (operators/webpcodec.py); subset like vid/flac
    # (literal-mode encode is per-pixel Python)
    webps = b2k.select(
        "doc_id", "source",
        make_webp((F.col("doc_id") % 256).cast("int"),
                  F.col("tmod")).alias("payload"))
    wfeats = extract_image_features(webps, "doc_id", keep_cols=["source"])
    webp = (wfeats.groupBy("source")
            .agg(F.count("*").alias("n"),
                 F.max("width").cast("long").alias("i1"),
                 F.max("height").cast("long").alias("i2"),
                 F.avg("mean_r").alias("d1"),
                 F.avg("mean_g").alias("d2"),
                 F.avg("mean_b").alias("d3"))
            .select(F.lit("webp").alias("leg"), "source", "n", "i1", "i2",
                    "d1", "d2", "d3"))
    from datasketches_spark_spark.operators import sample_frames
    vids = b2k.select(
        "doc_id", "source",
        make_avi((F.lit(100) + (F.col("doc_id") % 60) * 2).cast("int"))
        .alias("payload"))
    frames = sample_frames(vids, "doc_id", 2, keep_cols=["source"])
    vfeats = extract_image_features(
        frames.withColumnRenamed("frame", "payload"), "doc_id",
        keep_cols=["source", "frame_idx"])
    vid = (vfeats.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.max("width").cast("long").alias("i1"),
                F.max("height").cast("long").alias("i2"),
                F.avg("mean_r").alias("d1"),
                F.avg(F.col("frame_idx").cast("double")).alias("d2"),
                F.lit(0.0).alias("d3"))
           .select(F.lit("vid").alias("leg"), "source", "n", "i1", "i2",
                   "d1", "d2", "d3"))
    rvids = b2k.select(
        "doc_id", "source",
        make_rgbv(((F.col("doc_id") % 50) * 4).cast("int"))
        .alias("payload"))
    rframes = sample_frames(rvids, "doc_id", 2, keep_cols=["source"])
    rfeats = extract_image_features(
        rframes.withColumnRenamed("frame", "payload"), "doc_id",
        keep_cols=["source", "frame_idx"])
    rgbv = (rfeats.groupBy("source")
            .agg(F.count("*").alias("n"),
                 F.max("width").cast("long").alias("i1"),
                 F.max("height").cast("long").alias("i2"),
                 F.avg("mean_r").alias("d1"),
                 F.avg("mean_g").alias("d2"),
                 F.avg("mean_b").alias("d3"))
            .select(F.lit("rgbv").alias("leg"), "source", "n", "i1",
                    "i2", "d1", "d2", "d3"))
    fclips = b2k.select(
        "doc_id", "source",
        make_flac((F.col("doc_id") % 64).cast("int"),
                  (F.lit(100) + F.col("doc_id") % 50).cast("int"))
        .alias("payload"))
    ffeats = extract_audio_features(fclips, "doc_id", keep_cols=["source"])
    flac = (ffeats.groupBy("source")
            .agg(F.count("*").alias("n"),
                 F.sum("n_frames").cast("long").alias("i1"),
                 F.max("sample_rate").cast("long").alias("i2"),
                 F.avg("rms").alias("d1"),
                 F.max("zero_cross_rate").alias("d2"),
                 F.lit(0.0).alias("d3"))
            .select(F.lit("flac").alias("leg"), "source", "n", "i1",
                    "i2", "d1", "d2", "d3"))
    arjs = b2k.select(
        "doc_id", "source",
        make_arj((F.lit(80) + (F.col("doc_id") % 50) * 2).cast("int"))
        .alias("payload"))
    ajfeats = extract_image_features(arjs, "doc_id",
                                     keep_cols=["source"])
    arj = (ajfeats.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.max("width").cast("long").alias("i1"),
                F.max("height").cast("long").alias("i2"),
                F.avg("mean_r").alias("d1"),
                F.avg("mean_g").alias("d2"),
                F.lit(0.0).alias("d3"))
           .select(F.lit("arj").alias("leg"), "source", "n", "i1",
                   "i2", "d1", "d2", "d3"))
    return (img.unionByName(aud).unionByName(jpg).unionByName(png)
            .unionByName(webp).unionByName(mp3).unionByName(vid)
            .unionByName(rgbv).unionByName(flac).unionByName(arj)
            .orderBy("leg", "source"))


def _q40_cpc_native_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine-CPC accumulate under the oracle gate: per-lang CPC states
    built BY THE ENGINE from raw values (Apache DataSketches wire bytes
    at lgK=16 — readable by datasketches-java and the reference; coupon
    hashing bit-identical to CpcSketch.update, sketches/murmur3.py),
    estimated per lang plus a combine->estimate global leg. Source
    cardinalities sit far below the 2^22 coupon space, so DuckDB's exact
    count(DISTINCT) gates bit-for-bit (hashing is deterministic: if the
    item set is collision-free at this sf, it stays so)."""
    docs = read_table(spark, sf_dir, "documents")
    # r18: two legs (per-lang estimate + combine->estimate) consume the
    # state table — materialize the 5 state rows so the CPC accumulate
    # scan runs once, not once per leg (guide §2.4; the q62 pattern)
    states = (docs.groupBy("lang")
              .agg(dsf.approx_count_distinct_accumulate_cpc(
                  "source", lgk=16).alias("st"))).localCheckpoint()
    per_lang = states.select(
        "lang", dsf.approx_count_distinct_estimate("st").alias("ndv_src"))
    overall = states.agg(
        dsf.approx_count_distinct_estimate(
            dsf.approx_count_distinct_combine("st")).alias("ndv_src_all"))
    return per_lang.crossJoin(overall).orderBy("lang")


def _q41_theta_wire_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches compact-Theta wire set algebra under the oracle gate:
    per-lang source-sets accumulate into GENUINE family-3 Theta states
    (compat/theta.py — byte-identical to datasketches-java in this exact
    regime), then every lang pair's intersection and Jaccard come from
    the sketch set operations. Cardinalities sit far below nominal k, so
    every op is exact and DuckDB recomputes it relationally. The 5
    per-lang states are collected to the driver (bounded by the lang
    dimension) so the pair join does not re-execute the accumulate per
    side."""
    docs = read_table(spark, sf_dir, "documents")
    states = (docs.groupBy("lang")
              .agg(dsf.approx_count_distinct_accumulate_theta_wire("source")
                   .alias("st")).collect())
    pairs = [(a.lang, b.lang, a.st, b.st)
             for a in states for b in states if a.lang < b.lang]
    # r18: Arrow-backed local relation — the pickled-tuple relation made
    # every consumer re-run a Python deserialization job (guide §4.1)
    pdf = arrow_local_df(
        spark, pairs,
        "lang_a string, lang_b string, st_a binary, st_b binary")
    return (pdf.select(
        "lang_a", "lang_b",
        dsf.approx_set_intersection("st_a", "st_b")
           .alias("common_sources"),
        dsf.approx_set_jaccard("st_a", "st_b").alias("jaccard"))
        .where(F.col("common_sources") > 0)
        .orderBy("lang_a", "lang_b"))


def _q42_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs via the prefix-filtered
    set-similarity self-join (operators/dedup.py::ngram_jaccard_pairs) —
    unlike q15's MinHash-LSH this carries no probabilistic recall
    argument: the prefix-filter principle guarantees every qualifying
    pair is emitted, so the exact all-pairs oracle must match
    bit-for-bit. Shuffle keys are each doc's globally-rarest trigrams,
    and the PPJoin positional filter prunes candidates before the
    array-intersect verify."""
    from datasketches_spark_spark.operators import ngram_jaccard_pairs
    docs = read_table(spark, sf_dir, "documents")
    return (ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.6,
                                ngram_n=3)
            .orderBy("id_a", "id_b"))


def _q43_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup GRAPH stage end-to-end, two legs over ONE pair set and
    ONE components run. MinHash near-dup pairs (exact-Jaccard verified,
    = the q15 edge set) are localCheckpoint-ed so both legs share them;
    min-label-propagation connected components with pointer jumping
    (operators/dedup.py::connected_components, O(log d) rounds,
    localCheckpoint per round) run ONCE. Leg 'component': one row per
    duplicate group (component_id = min member id, n_docs). Leg 'drop':
    the ids to DROP — every member except the survivor with the highest
    n_chars (ties to lowest id) per component (dedup_drop_list reusing
    the same labels). The oracle recomputes both with a recursive
    transitive closure + window rank."""
    from datasketches_spark_spark.operators import (
        connected_components, dedup_drop_list, minhash_dedup_pairs)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, "doc_id", "text",
                                threshold=0.5).localCheckpoint()
    labels = connected_components(pairs)
    comp = (labels.groupBy(F.col("comp").alias("a"))
            .agg(F.count("*").alias("b"))
            .select(F.lit("component").alias("leg"), "a", "b"))
    drop = (dedup_drop_list(docs, pairs, "doc_id", prefer_col="n_chars",
                            labels=labels)
            .select(F.lit("drop").alias("leg"),
                    F.col("doc_id").alias("a"),
                    F.lit(0).cast("long").alias("b")))
    return comp.unionByName(drop).orderBy("leg", "a")


def _q44_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: every 7th document plays the 'incoming batch'
    and is matched against the REST of the corpus with the R-S MinHash
    join (operators/dedup.py::minhash_match) — band-bucket equi-join
    between the two sides, exact-Jaccard verified, so the exact
    cross-join oracle must match. The duplicate mass planted in the
    fixture has J well above the 0.5 threshold, where the 32-band LSH
    miss probability is ~1e-14 per pair."""
    from datasketches_spark_spark.operators import minhash_match
    docs = read_table(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    return (minhash_match(queries, corpus, "doc_id", "text",
                          threshold=0.5)
            .orderBy("query_id", "corpus_id"))


def _q45_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction, three legs: per language, keep the largest documents
    (n_chars desc, doc_id tiebreak) until each language contributes at
    most 2000 whitespace tokens (operators/sampling.py::budget_select —
    one exchange on lang + a running-sum window; the greedy-prefix mix
    builder). Output is the per-lang document count and token mass of the
    selected mix."""
    from datasketches_spark_spark.functions.text import token_count
    from datasketches_spark_spark.operators import budget_select
    docs = (read_table(spark, sf_dir, "documents")
            .withColumn("toks", token_count("text")))
    sel = budget_select(docs, "toks", ["n_chars", "doc_id"], 2000,
                        strata_col="lang")
    budget = (sel.groupBy("lang")
              .agg(F.count("*").alias("n_docs"),
                   F.sum("toks").alias("sum_tokens"))
              .select(F.lit("budget").alias("leg"), "lang", "n_docs",
                      "sum_tokens", F.lit(0.0).alias("sh"),
                      F.lit(0.0).alias("w"), F.lit(0.0).alias("ep")))
    # Leg 'mix' (round 11, operators/sampling.py::mixture_weights):
    # temperature-scaled sampling weights over the per-language token
    # mass (p_i^0.3 renormalization) and the repetition factor each
    # language sustains under a 10k-token budget — one map-side-combined
    # aggregate, windows over the 5 language rows.
    from datasketches_spark_spark.operators import mixture_weights
    mix = (mixture_weights(docs, "lang", "toks", alpha=0.3, budget=10_000)
           .select(F.lit("mix").alias("leg"), "lang",
                   F.lit(0).cast("long").alias("n_docs"),
                   F.col("mass").alias("sum_tokens"),
                   F.col("share").alias("sh"), F.col("weight").alias("w"),
                   F.col("epochs").alias("ep")))
    # Leg 'dsir' (round 11, operators/sampling.py::dsir_weights): DSIR
    # hashed n-gram importance weights (Xie et al. 2023) with lang='en'
    # as the target domain — 64 md5-portable buckets, add-0.5 smoothed
    # log-likelihood ratios, per-doc sums rounded AFTER all arithmetic.
    # Per language: docs with positive evidence, positive-term mass,
    # and the max/avg/min per-doc score (every doc's float must agree).
    from datasketches_spark_spark.operators import dsir_weights
    dw = dsir_weights(docs, "doc_id", "text", F.col("lang") == "en",
                      buckets=64)
    dsir = (dw.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
                 .alias("n_docs"),
                 F.sum("n_pos").alias("sum_tokens"),
                 F.round(F.max("score"), 6).alias("sh"),
                 F.round(F.avg("score"), 6).alias("w"),
                 F.round(F.min("score"), 6).alias("ep"))
            .select(F.lit("dsir").alias("leg"), "lang",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("sum_tokens").cast("long").alias("sum_tokens"),
                    "sh", "w", "ep"))
    return (budget.unionByName(mix).unionByName(dsir)
            .orderBy("leg", "lang"))


def _q46_session_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity sessionization with per-session distinct users: native
    ``session_window`` grouping (the only operator that can merge
    partial sessions) + the JVM DataSketches HLL aggregate, through the
    engine's batch/streaming-symmetric ``session_distinct`` helper
    (streaming/sketch_stream.py). Exact at fixture NDV; the oracle
    recomputes sessions relationally (gaps-and-islands). Round 11: the
    same sessions ALSO carry ENGINE tuple states via
    ``session_summaries`` (the state-store-capable gap sessionizer —
    its own gap merge, no native session_window) — per-session rows /
    value sum / distinct users decode from one tuple state per session
    (t_rows, t_sum, t_ndv), and the two independent sessionizers MUST
    agree on session identity for the join to line up, which the hash
    gate now pins. Streaming == batch for session_summaries is pinned
    in tests/test_streaming.py::TestSessionSummaries."""
    from datasketches_spark_spark.streaming import (session_distinct,
                                                    session_summaries)
    ev = read_table(spark, sf_dir, "events")
    out = session_distinct(ev, ["event_type"], "user_id", "ts", "1 hour")
    hll = out.select(
        "event_type",
        F.date_format(F.col("session.start"),
                      "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.col("ndv"))
    tup = session_summaries(ev, ["event_type"], ("user_id", "value"),
                            "ts", "1 hour", family="tuple")
    e = dsf.approx_tuple_estimate("state")
    tleg = tup.select(
        "event_type",
        F.date_format(F.timestamp_millis(F.col("session_start")),
                      "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        e["rows"].alias("t_rows"),
        F.round(e["value_sum"], 6).alias("t_sum"),
        e["ndv"].alias("t_ndv"))
    return (hll.join(tleg, ["event_type", "session_start"])
            .orderBy("event_type", "session_start"))


def _q48_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination in both spaces, one leg each — neither
    shuffles the corpus. Leg 'gram': corpus docs sharing any word-4-gram
    with the eval set (every 11th doc) flagged with their exact distinct
    collision count (operators/dedup.py::ngram_overlap_flags — broadcast
    the benchmark gram set, map-side probe, contamination-sized groupBy).
    Leg 'emb': embedding-space decontamination (operators/similarity.py::
    nearest_reference) — every corpus vector's nearest benchmark vector
    (vec_id % 13 == 0) via one broadcast-GEMM mapInPandas pass, no
    self-join; only the cosine ORDERING must agree with the oracle (the
    q19/q25 contract)."""
    from datasketches_spark_spark.operators import (
        nearest_reference, ngram_overlap_flags)
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 11 == 0)
    corpus = docs.where(F.col("doc_id") % 11 != 0)
    gram = (ngram_overlap_flags(corpus, bench, "doc_id", "text", ngram_n=4)
            .select(F.lit("gram").alias("leg"),
                    F.col("doc_id").alias("id"),
                    F.col("n_hits").cast("long").alias("v")))
    emb = read_table(spark, sf_dir, "embeddings")
    ebench = emb.where(F.col("vec_id") % 13 == 0)
    ecorpus = emb.where((F.col("vec_id") % 13 != 0)
                        & (F.col("vec_id") < 400))
    eleg = (nearest_reference(ecorpus, ebench)
            .select(F.lit("emb").alias("leg"),
                    F.col("vec_id").alias("id"),
                    F.col("ref_id").cast("long").alias("v")))
    return gram.unionByName(eleg).orderBy("leg", "id")


def _q25_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: spherical-k-means coarse quantizer (trained on a driver-side
    sample — the standard IVF design), distributed cell assignment, probe +
    exact re-rank. Probing ALL cells makes the result exactly brute-force
    top-k, so the oracle hash-checks the full IVF machinery; partial-probe
    recall is pytest-measured."""
    from datasketches_spark_spark.operators import (
        ivf_ann_topk, train_ivf_centroids)
    emb = read_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, num_cells=8, iters=5)
    qs = [(r.vec_id, r.embedding) for r in emb.where("vec_id < 10").collect()]
    return (ivf_ann_topk(emb, qs, cents, k=5, nprobe=8)
            .orderBy("query_id", "rank"))


def _q26_fingerprint_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document identity + chunking, two legs. Leg 'fp': exact-content
    md5 fingerprints (functions/text.py::doc_fingerprint) — the cheap
    first pass of any dedup pipeline. Leg 'chunk': 32-token chunks with
    8-token overlap for embedding pipelines (functions/text.py::
    chunk_tokens — tokenize once per row, JVM-side explode, no shuffle),
    one row per chunk with the chunk text pinned by md5."""
    from datasketches_spark_spark.functions.text import (
        chunk_tokens, doc_fingerprint)
    docs = read_table(spark, sf_dir, "documents")
    fp = (docs.where(F.col("doc_id") < 30)
          .select(F.lit("fp").alias("leg"), "doc_id",
                  F.lit(0).cast("long").alias("idx"),
                  doc_fingerprint("text").alias("h"),
                  F.lit(0).cast("long").alias("n")))
    chunks = (docs.where(F.col("doc_id") < 200)
              .select("doc_id",
                      F.posexplode(chunk_tokens("text", 32, overlap=8))
                      .alias("chunk_idx", "chunk")))
    ch = chunks.select(F.lit("chunk").alias("leg"), "doc_id",
                       F.col("chunk_idx").cast("long").alias("idx"),
                       F.md5("chunk").alias("h"),
                       F.size(F.split("chunk", " ")).cast("long").alias("n"))
    # Leg 'pack' (round 9, operators/packing.py::pack_sequences): the
    # concat-and-chunk training layout — every document's (sequence,
    # in-doc span, in-seq offset) assignment from a DISTRIBUTED prefix
    # sum (literal bucket boundaries -> per-bucket totals -> broadcast
    # offsets -> partitioned-window cumsum -> JVM sequence/explode),
    # never a single-partition global window. Layout-PROOF by
    # construction (bucket = pure function of the id, frozen as plan
    # literals), so the output is invariant to partition layout, conf
    # deltas, and plan re-execution. DuckDB recomputes it with a window
    # cumsum at oracle scale.
    from datasketches_spark_spark.functions.text import token_count
    from datasketches_spark_spark.operators import pack_sequences
    sized = docs.where(F.col("doc_id") < 500).select(
        "doc_id", token_count("text").alias("n_tokens"))
    packed = pack_sequences(sized, 256, num_partitions=8)
    pk = packed.select(
        F.lit("pack").alias("leg"), "doc_id",
        F.col("seq_id").alias("idx"),
        F.concat_ws(":", "piece_start", "piece_end", "seq_offset")
        .alias("h"),
        (F.col("piece_end") - F.col("piece_start")).alias("n"))
    return fp.unionByName(ch).unionByName(pk) \
        .orderBy("leg", "doc_id", "idx")


def _q27_winnow_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken SIGMOD'03) fully under the
    oracle gate, two legs. Leg 'fp': the fingerprint SET per document
    with the PORTABLE md5-prefix k-gram hash (functions/text.py::
    winnow_fingerprints_expr — k-gram hash, sliding-window min, distinct,
    sorted; pinned by md5 of the joined list). Leg 'pair': near-dup
    pairs from the bucket-join machinery (operators/dedup.py::
    winnow_pairs_from_fingerprints — explode fingerprints, drop
    boilerplate buckets > max_bucket, pair expansion, containment
    >= 0.5) running ON those fingerprints — candidate generation
    hash-gated end-to-end; h pins shared:min-set-size as integers. The
    engine-hash fast path (winnow_fingerprints -> winnow_dedup_pairs)
    shares this machinery and is pytest-covered (shift invariance)."""
    from datasketches_spark_spark.functions.text import (
        winnow_fingerprints_expr)
    from datasketches_spark_spark.operators import (
        winnow_pairs_from_fingerprints)
    docs = read_table(spark, sf_dir, "documents")
    f = winnow_fingerprints_expr("text", k=16, window=4)
    # localCheckpoint barrier: same HOF re-evaluation hazard as q17 — the
    # fingerprint array feeds size/md5 AND the explode in the pair
    # machinery, which projection collapse would otherwise re-compute
    base = (docs.where(F.col("doc_id") < 150)
            .select("doc_id", f.alias("fps"))
            .localCheckpoint())
    fpleg = base.select(
        F.lit("fp").alias("leg"), F.col("doc_id").alias("a"),
        F.size("fps").cast("long").alias("b"),
        F.md5(F.array_join(
            F.transform("fps", lambda x: x.cast("string")), ","))
        .alias("h"))
    pairs = winnow_pairs_from_fingerprints(base, "doc_id", "fps",
                                           min_overlap=0.5)
    pairleg = pairs.select(
        F.lit("pair").alias("leg"), F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.concat_ws(":", F.col("shared"), F.least("n_a", "n_b")).alias("h"))
    return fpleg.unionByName(pairleg).orderBy("leg", "a", "b")


def _q28_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta set algebra over accumulate states (extension: the Theta
    framework's intersection/Jaccard applied to persisted sketch summaries
    — audience-overlap analytics without re-reading raw events). Exact
    regime: per-type user sets are below the sketch k."""
    ev = read_table(spark, sf_dir, "events")
    summ = sketch_accumulate(ev, ["event_type"], "user_id",
                             family="theta", k=_TK)
    a = summ.select(F.col("event_type").alias("type_a"),
                    F.col("state").alias("sa"))
    b = summ.select(F.col("event_type").alias("type_b"),
                    F.col("state").alias("sb"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))  # 5x5 tiny
    return (pairs.select(
                "type_a", "type_b",
                dsf.approx_set_intersection("sa", "sb").alias("common_users"),
                dsf.approx_set_jaccard("sa", "sb").alias("jaccard"))
            .orderBy("type_a", "type_b"))


def _q29_mixed_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed native + sketch aggregates in ONE SQL text via dss.sql — a
    shape plain spark.sql cannot execute at all (Spark refuses to mix
    GROUPED_AGG pandas UDFs with JVM aggregates:
    INVALID_PANDAS_UDF_PLACEMENT). The front-end splits the select list:
    count/sum run as JVM hash aggregates, the sketch half runs two-phase
    (MapInPandas partials before the exchange), joined null-safely on the
    group key (datasketches_spark_spark/sql.py). MERGEABLE (float64)
    because o_totalprice carries cents beyond float32's mantissa."""
    import datasketches_spark_spark as dss
    with session_conf(
            spark, {"spark.sql.dataSketches.quantiles.mergeable.k": "65536"}):
        read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
        return dss.sql(spark, """
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
                     AS sum_price_units,
                   approx_count_distinct_ex(o_custkey) AS ndv_cust,
                   approx_percentile_mergeable(o_totalprice, 0.9) AS p90_price
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """)


def _q30_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling quotas (operators/sampling.py). The sampled
    ROWS are random; the per-stratum COUNT contract is deterministic:
    exactly min(k, |stratum|) unique rows per l_returnflag. n_unique
    (count of distinct line ids inside the sample) must equal n_sampled —
    a without-replacement proof the oracle reproduces with least()."""
    from datasketches_spark_spark.operators import stratified_sample_exact
    li = read_table(spark, sf_dir, "lineitem")
    sample = stratified_sample_exact(li, "l_returnflag", 50, seed=6)
    return (sample.groupBy("l_returnflag")
            .agg(F.count("*").alias("n_sampled"),
                 F.countDistinct("l_orderkey", "l_linenumber")
                  .alias("n_unique"))
            .orderBy("l_returnflag"))


def _q31_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling (Efraimidis-Spirakis top-k physics) in its
    deterministic regime: k >= corpus size, so the sample is exactly the
    positive-weight rows — 'de' docs get weight 0 and must be absent,
    everything else kept once. Exercises the weight filter + top-k path
    end-to-end with a bit-exact oracle."""
    from datasketches_spark_spark.operators import weighted_sample
    docs = read_table(spark, sf_dir, "documents")
    weighted = docs.withColumn(
        "wt", F.when(F.col("lang") == "de", F.lit(0.0))
               .otherwise(F.octet_length("text").cast("double")))
    sample = weighted_sample(weighted, 10_000_000, "wt", seed=13)
    return (sample.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.octet_length("text")).cast("bigint")
                  .alias("sum_bytes"))
            .orderBy("lang"))


def _q32_sampling_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both reservoir families through the full SQL lifecycle
    (sketches/reservoir.py), one leg each. Leg 'uniform': per-(lang,
    source) accumulate -> per-lang combine -> estimate; k=65536 keeps
    every group in the exact regime so the merged reservoir IS the
    complete sorted doc_id multiset. Leg 'weighted': the A-ES weighted
    family (deterministic top-k merge over persisted keys) with weight =
    n_chars except lang 'de' weighted 0 — zero-weight rows can never be
    drawn, so 'de' carries a null state end-to-end (null combine -> null
    estimate/size) while every other lang retains its complete multiset.
    Accumulate stages run through dss.sql -> two-phase MapInPandas
    partials before the exchange; raw rows never shuffle. r16 perf
    triage (the r15 verdict's q32 watch item): BOTH families
    accumulate in ONE dss.sql pass — one documents scan and one
    state-only exchange instead of two — and the per-(lang, source)
    states persist so the two estimate legs read cached kilobyte
    states rather than re-running the accumulate."""
    import datasketches_spark_spark as dss
    from datasketches_spark_spark import conf as dconf
    with _installed_conf(spark, {dconf.SAMPLE_RESERVOIR_K_KEY: "65536"}):
        read_table(spark, sf_dir, "documents") \
            .createOrReplaceTempView("documents")
        states = dss.sql(spark, """
            SELECT lang, source,
                   approx_sample_accumulate_long(doc_id) AS st,
                   approx_sample_weighted_accumulate_long(
                       doc_id,
                       CASE WHEN lang = 'de' THEN 0.0
                            ELSE CAST(n_chars AS DOUBLE) END) AS wst
            FROM documents GROUP BY lang, source
        """).persist()
        _rotate_persisted(_q32_sampling_sql, "_states", states)
        states.createOrReplaceTempView("_q32_states")
        # doc_ids flattened to csv: the driver's canonicalizer hashes
        # scalar cells only (CORRECTNESS_r03 q32 err)
        return spark.sql("""
            SELECT 'uniform' AS leg, lang,
                   array_join(transform(
                       approx_sample_estimate_long(approx_sample_combine(st)),
                       x -> CAST(x AS STRING)), ',') AS doc_ids,
                   approx_sample_stream_size(approx_sample_combine(st))
                     AS n_docs
            FROM _q32_states GROUP BY lang
            UNION ALL
            SELECT 'weighted' AS leg, lang,
                   array_join(transform(
                       approx_sample_estimate_long(approx_sample_combine(wst)),
                       x -> CAST(x AS STRING)), ',') AS doc_ids,
                   approx_sample_stream_size(approx_sample_combine(wst))
                     AS n_docs
            FROM _q32_states GROUP BY lang
            ORDER BY leg, lang
        """)


def _q34_per_state_legs(tuples: dict, blooms: dict, cpcs: dict,
                        sources: dict) -> tuple[list, list, list]:
    """q34's per-lang legs over its collected ``{lang: state}`` maps:
    tuple rows ``(lang, tup_rows, tup_sum)``, bloom rows ``(lang,
    bm_self, bm_absent)`` probing each lang's ``sources``, and CPC rows
    ``(lang, ndv_src)``. Each decode and estimate follows the estimate
    error rule (``functions.udfs._NullOnError``): a missing state gives
    nulls, and corrupt states give nulls and one warning per leg, naming
    its estimate."""
    import pandas as pd
    from datasketches_spark_spark.functions.udfs import (
        _bloom_kinds, _bloom_probe, _NullOnError, _tuple_kinds)
    from datasketches_spark_spark.sketches import CpcUnionSketch

    def membership(sk, srcs):
        srcs = pd.Series(srcs, dtype=object)
        hit = _bloom_probe(sk, srcs, None)
        fp = _bloom_probe(sk, srcs.map(lambda s: s + "#none"), None)
        return (int(min(bool(h) for h in hit)),
                int(max(bool(x) for x in fp)))

    def leg(name, kinds, fn, states, width, extra=lambda lang: ()):
        guard = _NullOnError(name, kinds, fn)
        out = []
        for lang in sorted(states):
            blob = states[lang]
            res = None if blob is None else guard([blob], extra(lang))
            out.append((lang, *(res or (None,) * width)))
        guard.flush()
        return out

    return (leg("approx_tuple_estimate", _tuple_kinds(),
                lambda sk: (int(sk.rows_estimate()),
                            float(sk.sum_estimate())), tuples, 2),
            leg("approx_membership_contains", _bloom_kinds(), membership,
                {lang: blooms.get(lang) for lang in sources}, 2,
                lambda lang: (sources[lang],)),
            leg("approx_count_distinct_estimate", CpcUnionSketch,
                lambda sk: (int(sk.estimate()),), cpcs, 1))


def _merged_state(blobs):
    """The merge of the states ``blobs``; a corrupt state raises, as
    ``*_combine`` does."""
    from datasketches_spark_spark.sketches import deserialize_any
    merged = None
    for blob in blobs:
        sk = deserialize_any(bytes(blob))
        merged = sk if merged is None else merged.merge(sk)
    return merged


def _q34_wire_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-format interop under the oracle gate, two legs:

    * quantiles: accumulate (MERGEABLE, exact regime) -> EXPORT to Apache
      DataSketches bytes (classic DoublesSketch image) -> estimate reads
      the foreign bytes back through the import fallback; p50 must equal
      DuckDB's quantile_disc bit-for-bit (compat/datasketches.py).
    * CPC: per-lang distinct-count states built by the REAL
      datasketches-java CpcSketch (on Spark's driver classpath — exactly
      the states the reference engine persists,
      ``distinctCntSketches.scala:57-66``) are decoded by the engine's
      pure-Python CPC decoder (``compat/cpc.py``): per-lang
      decode->estimate of HIP images, a decode->union->estimate
      global leg through ``approx_count_distinct_combine`` (bit-matrix
      union of all five langs), and an EXPORT round trip: the combined
      engine state re-encodes to merged CPC wire bytes
      (``export_datasketches_state`` -> ``compat/cpc.py::
      serialize_matrix``, byte-identical to ``CpcUnion.getResult().
      toByteArray()``) and estimate byte-sniffs those foreign bytes
      back in. Source cardinalities (~20/lang) sit in CPC's
      round-exact regime at lgK=11, so DuckDB's exact count(DISTINCT)
      is the oracle for every leg.
    * tuple/ArrayOfDoubles (round 11, ``compat/aod.py``): a MIXED-ORIGIN
      corpus split — odd langs are summarized by the REAL
      datasketches-java ``ArrayOfDoublesUpdatableSketch`` (key=source,
      values=[1, n_chars]), even langs by the engine's
      ``approx_tuple_accumulate_wire`` (same wire family 9, same
      MurmurHash3 key space) — then per-lang decode
      (``approx_tuple_estimate`` reads BOTH origins: tup_rows, tup_sum)
      and ONE ``approx_tuple_combine`` union across the ten states
      yields global distinct-source / row / n_chars totals
      (tup_*_all). Exact regime (sources << k), so DuckDB recomputes
      everything relationally. Restricted to doc_id < 1000 so the
      foreign-system simulation's driver collect is bounded by a
      constant, not the corpus.

    The foreign-state GENERATION collects the distinct (lang, source)
    pairs (~100 rows) and the doc_id<1000 rows of the Java-side langs
    (<= 1000 rows) to the driver — both bounded by constants; that
    simulates the external reference system. The corpus-sized
    aggregates (per-lang percentile, engine tuple/bloom accumulates)
    run distributed; the decode/combine/estimate legs over the
    resulting <=10-row state tables run in the driver with the same
    kernels the UDFs use (r19, guide §4.4 — each was a separate
    Python-UDF stage whose fixed overhead dwarfed the sketch math)."""
    from datasketches_spark_spark import conf as dconf
    from pyspark.sql import functions as F
    with _installed_conf(spark, {dconf.QUANTILE_IMPL_KEY: "MERGEABLE",
                                 dconf.QUANTILE_MERGEABLE_K_KEY: "65536"}):
        docs = read_table(spark, sf_dir, "documents")
        docs.createOrReplaceTempView("documents")
        # foreign-system simulation: reference-style CPC states per lang
        pairs = (docs.select("lang", "source").distinct().collect())
        by_lang = {}
        for r in pairs:
            by_lang.setdefault(r.lang, []).append(r.source)
        jcpc = spark._jvm.org.apache.datasketches.cpc.CpcSketch
        states = []
        for lang, sources in sorted(by_lang.items()):
            sk = jcpc(11)
            for s in sources:
                sk.update(s)
            states.append((lang, bytes(sk.toByteArray())))
        # --- tuple/AoD mixed-origin split (round 11) ---
        langs = sorted(by_lang)
        java_langs = langs[0::2]
        eng_langs = langs[1::2]
        gw = spark.sparkContext._gateway
        aod_builder = (spark._jvm.org.apache.datasketches.tuple
                       .arrayofdoubles.ArrayOfDoublesUpdatableSketchBuilder)
        jrows = (docs.where(F.col("doc_id") < 1000)
                 .where(F.col("lang").isin(java_langs))
                 .select("lang", "source", "n_chars").collect())
        jstates = {}
        for r in jrows:
            sk = jstates.get(r.lang)
            if sk is None:
                b = aod_builder()
                b.setNumberOfValues(2)
                jstates[r.lang] = sk = b.build()
            arr = gw.new_array(spark._jvm.double, 2)
            arr[0] = 1.0
            arr[1] = float(r.n_chars)
            sk.update(r.source, arr)
        java_df = arrow_local_df(
            spark, [(lang, bytes(sk.compact().toByteArray()))
                    for lang, sk in sorted(jstates.items())],
            "lang string, st binary")
        eng_df = (docs.where(F.col("doc_id") < 1000)
                  .where(F.col("lang").isin(eng_langs))
                  .groupBy("lang")
                  .agg(dsf.approx_tuple_accumulate_wire("source", "n_chars")
                       .alias("st")))
        # The 5 tiny state rows materialize ONCE in the overlapped pool
        # below (§2.4/§2.6) — r19 collects them (driver-side leg fusion,
        # see the pool comment) where r18 localCheckpoint-ed.
        states_lazy = java_df.unionByName(eng_df)
        # --- BloomFilter mixed-origin split (round 12, compat/
        # bloomwire.py): odd langs' source-membership filters built by
        # the REAL datasketches-java BloomFilter, even langs by the
        # engine's approx_membership_accumulate_wire — SAME family-21
        # geometry (createByAccuracy(4096, 0.01) == the engine design
        # rule) and seed 7, so the two origins union. Gated booleans
        # (oracle literals): bm_self = every (lang, source) pair tests
        # positive against its own lang's filter (no false negatives);
        # bm_union = the cross-origin union of all five states contains
        # every source in the corpus; bm_absent = a never-inserted
        # probe set ('<source>#none') tests all-negative (at ~20 keys
        # in a 39k-bit filter the FP chance is ~1e-17 per probe).
        bloom_builder = (spark._jvm.org.apache.datasketches.filters
                         .bloomfilter.BloomFilterBuilder)
        # r18 optimization: `pairs` above IS this exact distinct collect
        # (same projection, same table) — reuse it instead of re-running
        # the scan+exchange (guide §2.4).
        pair_rows = pairs  # bounded: |langs| x |sources| ~ 100
        jbf = {}
        for r in pair_rows:
            if r.lang not in java_langs:
                continue
            sk = jbf.get(r.lang)
            if sk is None:
                jbf[r.lang] = sk = bloom_builder.createByAccuracy(
                    4096, 0.01, 7)
            sk.update(r.source)
        bj_df = arrow_local_df(
            spark, [(lang, bytes(sk.toByteArray()))
                    for lang, sk in sorted(jbf.items())],
            "lang string, bs binary")
        be_df = (docs.where(F.col("lang").isin(eng_langs))
                 .groupBy("lang")
                 .agg(dsf.approx_membership_accumulate_wire(
                     "source", expected_items=4096, fpp=0.01,
                     seed=7).alias("bs")))
        # bm_per_lang and bm_union both read these 5 filter states — one
        # materialization in the overlapped pool below serves both legs.
        bstates_lazy = bj_df.unionByName(be_df)
        # r18 (guide §2.6): the two state materializations and the KLL
        # wire accumulate are independent blocking jobs — overlap them so
        # the engine-side scans back-fill each other's idle cores.
        # r19 (guide §4.4 / round-18 verdict #5): the tuple/bloom legs
        # used to be ~6 separate Python-UDF stages over ≤10-row state
        # tables — ~2 s of fixed per-stage Arrow/task overhead for
        # microseconds of sketch math. The states are bounded by the
        # lang count (a constant), so COLLECT them (instead of
        # localCheckpoint) and run the identical kernels —
        # deserialize_any + merge (combine_udf's loop), estimate
        # methods (tuple_est_udf), _bloom_state/_bloom_probe
        # (membership_contains_udf) — in the driver; the scalar results
        # re-enter the plan as Arrow local relations with the same
        # schemas, so values and dtypes are unchanged. The corpus-sized
        # aggregates (percentile leg, eng/bloom accumulates) stay
        # distributed.
        from datasketches_spark_spark.operators import sketch_accumulate
        kll_lazy = sketch_accumulate(
            docs.select(F.col("n_chars").cast("double").alias("v")),
            [], "v", family="kll", k=16, state_col="st")
        state_rows, bstate_rows, (kst,) = run_concurrently(
            states_lazy.collect, bstates_lazy.collect, kll_lazy.collect)
        from datasketches_spark_spark.functions.udfs import (
            _bloom_probe, _bloom_state)
        from datasketches_spark_spark.sketches import deserialize_any
        import pandas as pd
        # per-lang tuple, bloom and CPC estimates under the estimate
        # error rule; the global unions below raise on a corrupt state,
        # as *_combine does
        pl_rows, bm_rows, cpc_rows = _q34_per_state_legs(
            {r.lang: r.st for r in state_rows},
            {r.lang: r.bs for r in bstate_rows}, dict(states), by_lang)
        per_lang = arrow_local_df(
            spark, pl_rows, "lang string, tup_rows bigint, tup_sum double")
        tmerged = _merged_state(r.st for r in state_rows)
        glob = arrow_local_df(
            spark, [(int(tmerged.estimate()), int(tmerged.rows_estimate()),
                     float(tmerged.sum_estimate()))],
            "tup_ndv_all bigint, tup_rows_all bigint, tup_sum_all double")
        bm_per_lang = arrow_local_df(
            spark, bm_rows, "lang string, bm_self bigint, bm_absent bigint")
        ub = _bloom_state(
            _merged_state(r.bs for r in bstate_rows).serialize())
        uhits = _bloom_probe(
            ub, pd.Series([r.source for r in pairs], dtype=object), None)
        bm_union = arrow_local_df(
            spark, [(int(min(bool(h) for h in uhits)),)],
            "bm_union bigint")
        # --- estimation-regime KLL wire EXPORT (round 13, compat/
        # datasketches.py): one engine KLL state at k=16 over every
        # doc's n_chars is deep in estimation mode at any gate SF;
        # export it as the DataSketches multi-level compact image and
        # heapify it in the REAL datasketches-java. Gated booleans
        # (oracle literals): kllx_heapify = java accepts the image,
        # sees the same n AND the identical retained min/max (exact
        # float equality — same items); kllx_quantile = java's
        # p25/p50/p90 fall inside the engine's +-0.05 rank window
        # (rule-agnostic, deterministic); kllx_roundtrip = java's
        # re-serialization re-imports into the engine with IDENTICAL
        # quantiles (same items, weights, and rank rule). Bounded
        # driver work: one state, one py4j heapify.
        from datasketches_spark_spark.compat.datasketches import (
            to_datasketches_state, to_engine_sketch)
        eng = deserialize_any(bytes(kst.st))
        exported = to_datasketches_state(bytes(kst.st))
        jkll = spark._jvm.org.apache.datasketches.kll.KllFloatsSketch \
            .heapify(spark._jvm.org.apache.datasketches.memory.Memory
                     .wrap(bytearray(exported)))
        ps = [0.25, 0.5, 0.9]
        eq = eng.quantiles(ps)
        jq = [jkll.getQuantile(p) for p in ps]
        lo = eng.quantiles([max(0.0, p - 0.05) for p in ps])
        hi = eng.quantiles([min(1.0, p + 0.05) for p in ps])
        back = to_engine_sketch(bytes(jkll.toByteArray()))
        kllx_heapify = int(jkll.getN() == eng.n and not eng.is_exact()
                           and jkll.getMinItem() == eng.min_value
                           and jkll.getMaxItem() == eng.max_value)
        kllx_quantile = int(all(a <= j <= b
                                for a, j, b in zip(lo, jq, hi)))
        kllx_roundtrip = int(back.n == eng.n
                             and back.quantiles(ps) == eq)
        # r19 (guide §4.4): the CPC legs were three more Python-UDF
        # stages over the 5-row driver-built state table — same fusion
        # as the tuple/bloom legs: run the identical estimate/combine/
        # export kernels (deserialize_any/merge/to_datasketches_state —
        # exactly what theta_est_udf, combine_udf and
        # export_datasketches_state execute) in the driver over the
        # bounded states; the per-lang percentile aggregate stays the
        # distributed pass it was.
        cmerged = _merged_state(blob for _, blob in states)
        ndv_all = int(cmerged.estimate())
        ndv_rt = int(deserialize_any(
            to_datasketches_state(cmerged.serialize())).estimate())
        cpc_leg = arrow_local_df(
            spark, [(lang, est, ndv_all, ndv_rt)
                    for lang, est in cpc_rows],
            "lang string, ndv_src bigint, ndv_src_all bigint, "
            "ndv_src_roundtrip bigint")
        base = (spark.sql("""
            SELECT lang,
                   approx_percentile_estimate(
                     export_datasketches_state(
                       approx_percentile_accumulate(
                         CAST(n_chars AS DOUBLE))), 0.5) AS p50_chars
            FROM documents GROUP BY lang
        """).join(cpc_leg, "lang"))
        return (base.join(per_lang, "lang").join(bm_per_lang, "lang")
                .crossJoin(F.broadcast(glob))
                .crossJoin(F.broadcast(bm_union))
                .withColumn("kllx_heapify",
                            F.lit(kllx_heapify).cast("long"))
                .withColumn("kllx_quantile",
                            F.lit(kllx_quantile).cast("long"))
                .withColumn("kllx_roundtrip",
                            F.lit(kllx_roundtrip).cast("long"))
                .orderBy("lang"))


def _q35_rank_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank/CDF estimation over persisted states (engine extension beyond
    the reference's quantile+pmf estimate surface). Exact regime: rank =
    exact-weight fraction with value <= x, so DuckDB reproduces it as
    avg(CASE ...) — the same integer count divided by the same n."""
    from datasketches_spark_spark import conf as dconf
    with _installed_conf(spark, {dconf.QUANTILE_IMPL_KEY: "MERGEABLE",
                                 dconf.QUANTILE_MERGEABLE_K_KEY: "262144"}):
        from datasketches_spark_spark.functions import (
            approx_percentile_accumulate_weighted)
        li = read_table(spark, sf_dir, "lineitem")
        # r19 (guide §2.3 "aggregate before you shuffle", the round-18
        # verdict's #4): the k=262144 exact-regime accumulate used to
        # buffer every raw l_quantity in the Python sketch pass (~600k
        # rows through the exchange and the Arrow boundary). l_quantity
        # has ~50 distinct values, and sketch updates are weight-
        # expandable and update-order-independent in everything this
        # query surfaces (rank/cdf are exact-fraction reads of the
        # weighted multiset) — so a map-side-combined (flag, value,
        # count) table feeds the same state from ~150 rows. Value-
        # identical: KllSketch.update_weighted places each value at its
        # count's set-bit levels, preserving n, extrema and every
        # cumulative weight.
        pre = (li.groupBy("l_returnflag",
                          F.col("l_quantity").cast("double").alias("v"))
               .agg(F.count("*").alias("c")))
        (pre.groupBy("l_returnflag")
            .agg(approx_percentile_accumulate_weighted(
                "v", "c", impl="MERGEABLE", k=262144).alias("st"))
            .createOrReplaceTempView("_q35_states"))
        # CDF points surfaced as scalar columns (q04's element_at pattern)
        # so the driver canonicalizer can hash them.
        return spark.sql("""
            SELECT l_returnflag, rank_25,
                   element_at(cdf, 1) AS cdf_10,
                   element_at(cdf, 2) AS cdf_30,
                   element_at(cdf, 3) AS cdf_40,
                   element_at(cdf, 4) AS cdf_end
            FROM (
              SELECT l_returnflag,
                     approx_rank_estimate(st, 25.0D) AS rank_25,
                     approx_cdf_estimate(st, array(10.0D, 30.0D, 40.0D))
                       AS cdf
              FROM _q35_states
            ) ORDER BY l_returnflag
        """)


def _q49_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join attribution in both directions (`operators/asof.py` —
    union + one hash exchange + window scan; no Join node, no range
    explosion). Leg 'backward': every click joined to the user's most
    recent at-or-before signup; DuckDB's native ASOF LEFT JOIN is the
    oracle. Leg 'nearest': pandas merge_asof parity — smallest absolute
    gap, backward winning ties (one sort, two window scans, still a
    single key exchange); the oracle ranks the full candidate set. Gap
    sums are integer microseconds, so the hash compare is exact."""
    from datasketches_spark_spark.operators.asof import asof_join
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    signups = ev.where(F.col("event_type") == "signup")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731

    jb = asof_join(clicks, signups, "user_id", left_ts="ts",
                   right_cols=["event_id"])
    gap = us("ts") - us("ts_matched")
    back = (jb.groupBy("user_id")
            .agg(F.count("*").alias("n_clicks"),
                 F.count("ts_matched").alias("n_matched"),
                 F.sum(gap).alias("gap_us"),
                 F.count(F.when(gap <= 3_600_000_000, 1)).alias("extra"))
            .select(F.lit("backward").alias("leg"), "user_id", "n_clicks",
                    "n_matched", "gap_us", "extra"))
    jn = asof_join(clicks, signups, "user_id", left_ts="ts",
                   right_cols=["event_id"], direction="nearest")
    agap = F.abs(us("ts") - us("ts_matched"))
    near = (jn.groupBy("user_id")
            .agg(F.count("*").alias("n_clicks"),
                 F.count("ts_matched").alias("n_matched"),
                 F.sum(agap).alias("gap_us"))
            .select(F.lit("nearest").alias("leg"), "user_id", "n_clicks",
                    "n_matched", "gap_us",
                    F.lit(0).cast("long").alias("extra")))
    return back.unionByName(near).orderBy("leg", "user_id")


def _q50_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (`functions/redact.py`): URL/email/IPv4/phone regex
    chain, pure JVM, zero shuffle. The fixture corpus contains no PII, so
    the text under test is built deterministically from events columns —
    both engines construct the identical string, then redact; md5 of the
    redacted text pins every replaced byte.

    Leg 'warc' (r15 — the flagship crawl chain promoted onto the
    hash-gated board): the markup-free subset of the same texts
    re-frames as WARC *response* records whose HTML bodies rotate
    through the four production encodings (chunked+gzip / brotli /
    brotli+UTF-16-BOM-overriding-a-lying-header / zstd), then
    ``read_warc -> http_decode_body -> html_to_text -> redact_pii``
    must land on byte-identical redacted text — the whole ingestion chain under
    the per-round value-hash gate. q50 re-locked for this leg (see
    BASELINE.md r15)."""
    import gzip as _gzip
    import os
    import shutil
    import tempfile

    import pandas as pd
    from datasketches_spark_spark.functions import (html_to_text,
                                                    http_decode_body)
    from datasketches_spark_spark.functions.redact import (
        pii_counts, redact_pii)
    from datasketches_spark_spark.operators import read_warc
    from datasketches_spark_spark.operators.brotlinative import \
        brotli_encode
    from datasketches_spark_spark.operators.zstdnative import zstd_encode

    ev = read_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    txt = F.concat(
        F.lit("contact user"), uid,
        F.lit(" at user"), uid, F.lit("@example.com or http://ex.com/u/"),
        uid, F.lit(" ip 10.1."), (F.col("user_id") % 200).cast("string"),
        F.lit(".7 call +1-555-"), F.lpad(uid, 4, "0"),
        F.lit(" ref "), F.col("props"))
    d = ev.where(F.col("event_id") < 200).select("event_id", txt.alias("t"))

    def _stats(df: DataFrame, leg: str) -> DataFrame:
        c = pii_counts(F.col("t"))
        return df.select(
            F.lit(leg).alias("leg"), "event_id",
            F.md5(redact_pii("t")).alias("h"),
            c["URL"].alias("n_url"), c["EMAIL"].alias("n_email"),
            c["IP"].alias("n_ip"), c["PHONE"].alias("n_phone"))

    direct = _stats(d, "direct")

    # ---- leg 'warc': html_to_text is identity exactly on markup-free
    # single-spaced trimmed text, so the crawl chain must reproduce t
    clean = d.where(~F.col("t").rlike("[<>&\t\n\r]")
                    & ~F.col("t").contains("  ")
                    & (F.col("t") == F.trim(F.col("t"))))

    def _mk_warc(pdf_iter):
        for pdf in pdf_iter:
            recs = []
            for eid, t in zip(pdf["event_id"], pdf["t"]):
                html = f"<html><body><p>{t}</p></body></html>"
                leg = int(eid) % 4
                if leg == 0:
                    body = _gzip.compress(html.encode("utf-8"))
                    body = b"".join(
                        b"%x\r\n%s\r\n" % (len(body[i:i + 48]),
                                           body[i:i + 48])
                        for i in range(0, len(body), 48)) + b"0\r\n\r\n"
                    hdr = (b"Content-Type: text/html; charset=utf-8\r\n"
                           b"Transfer-Encoding: chunked\r\n"
                           b"Content-Encoding: gzip")
                elif leg == 1:
                    body = brotli_encode(html.encode("utf-8"))
                    hdr = (b"Content-Type: text/html; charset=utf-8\r\n"
                           b"Content-Encoding: br")
                elif leg == 2:
                    body = brotli_encode(
                        b"\xff\xfe" + html.encode("utf-16-le"))
                    hdr = (b"Content-Type: text/html; "
                           b"charset=iso-8859-1\r\n"
                           b"Content-Encoding: br")
                else:
                    body = zstd_encode(html.encode("utf-8"))
                    hdr = (b"Content-Type: text/html; charset=utf-8\r\n"
                           b"Content-Encoding: zstd")
                msg = b"HTTP/1.1 200 OK\r\n" + hdr + b"\r\n\r\n" + body
                head = (
                    "WARC/1.0\r\nWARC-Type: response\r\n"
                    f"WARC-Target-URI: <https://ev.example.com/"
                    f"{int(eid)}>\r\n"
                    "WARC-Date: 2026-08-15T00:00:00Z\r\n"
                    f"WARC-Record-ID: <urn:uuid:{int(eid)}>\r\n"
                    "Content-Type: application/http; "
                    "msgtype=response\r\n"
                    f"Content-Length: {len(msg)}\r\n\r\n").encode()
                recs.append(_gzip.compress(head + msg + b"\r\n\r\n"))
            yield pd.DataFrame({"blob": [b"".join(recs)]})

    files = clean.repartition(2).mapInPandas(
        _mk_warc, "blob binary").collect()
    tmpd = tempfile.mkdtemp(prefix="dss_q50_warc_")
    try:
        for i, row in enumerate(files):
            with open(os.path.join(tmpd, f"p{i}.warc.gz"), "wb") as fh:
                fh.write(bytes(row.blob))
        via_warc = (read_warc(spark, tmpd, types=("response",))
                    .select(
                        F.regexp_extract("record_id", r"(\d+)$", 1)
                        .cast("long").alias("event_id"),
                        html_to_text(http_decode_body("payload"))
                        .alias("t")))
        warc = _stats(via_warc, "warc").localCheckpoint()
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)
    return direct.unionByName(warc).orderBy("leg", "event_id")


def _q52_rollup_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized sketch rollups — the 100 TB serving pattern (the
    rollup is O(days) rows regardless of raw volume; each query merges
    kilobyte states, never rescanning raws). Leg 'window': accumulate
    per-day quantile + Theta states, PERSIST to parquet, answer two
    window queries by merging the persisted states. Leg 'refresh': the
    managed lifecycle (operators/rollup.py::SketchRollup) — BUILD a
    (day, event_type) rollup from the first half of events, REFRESH
    incrementally with the second half (append-only partial states; old
    raws never reprocessed), then ESTIMATE per event_type over a window
    SPANNING the refresh boundary. Exact regime, so DuckDB reproduces
    both legs from the raw table."""
    import hashlib
    from datasketches_spark_spark.operators import SketchRollup
    from datasketches_spark_spark.operators.sketch_agg import (
        distinct_measure, percentile_measure, sketch_accumulate_multi,
        state_measure)
    ev = read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    # r18: the quantile and Theta day-states used to come from two
    # separate accumulate scans of events joined on day — ONE
    # multi-measure pass builds both (guide §2.3/§2.4: one scan, one
    # exchange, no join). Identical states: same two-phase machinery,
    # and neither family's accumulation sees the other.
    qt = sketch_accumulate_multi(
        ev.select(day, "value", "user_id"), ["day"],
        [state_measure("state", "value", "quantile",
                       impl="MERGEABLE", k=_QK),
         state_measure("ustate", "user_id", "theta", k=_TK)])
    path = ("/tmp/dss_rollup_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:12])

    def window(label, lo, hi):
        m = (roll.where((F.col("day") >= lo) & (F.col("day") < hi))
             .agg(dsf.approx_percentile_combine("state").alias("q"),
                  dsf.approx_count_distinct_combine("ustate").alias("u")))
        est = dsf.approx_percentile_estimate("q", [0.5, 0.95])
        return m.select(F.lit("window").alias("leg"),
                        F.lit(label).alias("k"),
                        F.element_at(est, 1).alias("p50"),
                        F.element_at(est, 2).alias("p95"),
                        dsf.approx_count_distinct_estimate("u")
                        .cast("long").alias("ndv"))

    ev2 = ev.select(F.date_trunc("day", F.col("ts")).alias("day"),
                    "event_type", "value", "user_id")
    mpath = ("/tmp/dss_rollup_mgr_"
             + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    mgr = SketchRollup(
        mpath, ["day", "event_type"],
        [percentile_measure("p50_value", "value", 0.5,
                            impl="MERGEABLE", k=_QK),
         distinct_measure("ndv_users", "user_id", k=_TK)])

    # r18 (guide §2.6): the window-leg rollup write and the managed
    # build->refresh chain are independent blocking driver calls; run
    # the write and build+refresh (which must stay ordered: overwrite,
    # then append) in two driver threads. Same jobs, same rows — only
    # the submission overlaps.
    def build_then_refresh():
        mgr.build(ev2.where(F.col("day") < "2024-01-15"))
        mgr.refresh(ev2.where(F.col("day") >= "2024-01-15"))

    run_concurrently(lambda: qt.write.mode("overwrite").parquet(path),
                     build_then_refresh)
    roll = spark.read.parquet(path)
    win = ((F.col("day") >= "2024-01-08") & (F.col("day") < "2024-01-22"))
    refresh = (mgr.estimate(spark, where=win, group_by=["event_type"])
               .select(F.lit("refresh").alias("leg"),
                       F.col("event_type").alias("k"),
                       F.col("p50_value").alias("p50"),
                       F.lit(None).cast("double").alias("p95"),
                       F.col("ndv_users").cast("long").alias("ndv")))
    return (window("w1", "2024-01-03", "2024-01-10")
            .unionByName(window("w2", "2024-01-15", "2024-01-29"))
            .unionByName(refresh)
            .orderBy("leg", "k"))


def _q53_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup: every document gets a two-tone 8x8 PPM
    payload (left half gray a = (doc_id%16)*16, right half
    b = ((doc_id*3)%16)*16) with a one-pixel noise bump on odd doc_ids —
    so payload BYTES differ within a visual class, but the aHash
    (`operators/imagecodec.py::average_hash`, real decode -> integer luma
    -> block means -> threshold) collapses each class to one hash.
    Grouping on the hash is the image near-dup operator: one narrow
    shuffle, no pairwise comparisons. The construction makes the hash
    closed-form (a>b -> f0f0... rows, a<b -> 0f0f..., a=b -> all zero),
    so DuckDB reproduces it from the relational columns alone;
    n_variants counts genuinely distinct payload bytes via md5."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType
    from datasketches_spark_spark.operators import (
        encode_ppm, perceptual_hash_images)

    def _make(a, b, noise):
        # per-batch memo (r18): payload bytes are a pure function of the
        # <=16*16*2 distinct (a, b, noise) tuples — encode each once per
        # batch instead of once per row (guide §4.2)
        cache = {}
        out = []
        for av, bv, nv in zip(a, b, noise):
            key = (int(av), int(bv), bool(nv))
            blob = cache.get(key)
            if blob is None:
                img = np.zeros((8, 8, 3), np.uint8)
                img[:, :4] = key[0]
                img[:, 4:] = key[1]
                if key[0] != key[1] and key[2]:
                    img[0, 0] = key[0] + 1
                blob = cache[key] = encode_ppm(img)
            out.append(blob)
        return pd.Series(out, dtype=object)

    _make.__annotations__ = {"a": pd.Series, "b": pd.Series,
                             "noise": pd.Series, "return": pd.Series}
    make_ppm = F.pandas_udf(_make, BinaryType())

    docs = read_table(spark, sf_dir, "documents")
    with_img = docs.select(
        "doc_id",
        make_ppm((F.col("doc_id") % 16) * 16,
                 ((F.col("doc_id") * 3) % 16) * 16,
                 F.col("doc_id") % 2).alias("payload"))
    with_img = with_img.withColumn("pm", F.md5("payload"))
    hashed = perceptual_hash_images(with_img, "doc_id", keep_cols=["pm"])
    return (hashed.groupBy("phash")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("pm").alias("n_variants"),
                 F.min("doc_id").alias("min_doc"))
            .orderBy("phash"))


def _q54_ivf_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF index (`operators/similarity.py::build_ivf_index`):
    the corpus is assigned to cells ONCE and written partitioned by cell;
    queries load only the tiny centroid table plus the probed cells'
    files (static partition pruning). Probing all 8 cells makes the
    result exactly brute-force top-k, so the oracle hash-checks the full
    build -> persist -> load -> probe machinery; partial-probe pruning
    and recall are pytest-covered."""
    import hashlib
    from datasketches_spark_spark.operators import (
        build_ivf_index, query_ivf_index)
    emb = read_table(spark, sf_dir, "embeddings")
    path = ("/tmp/dss_ivf_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    build_ivf_index(emb, path, num_cells=8, iters=5)
    qs = [(r.vec_id, r.embedding) for r in emb.where("vec_id < 10").collect()]
    return (query_ivf_index(spark, path, qs, k=5, nprobe=8)
            .orderBy("query_id", "rank"))


def _q55_cross_state_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-state estimators — planner/monitoring answers computed from
    persisted states ALONE, never re-running raw joins or re-scans. Leg
    'joinsize' (functions/freqitems.py::approx_join_size): per-event-type
    frequency states over user_id, then every type pair's equi-join
    output cardinality as sum_k f_A(k)*f_B(k) — the classic join-planner
    input. Leg 'ks' (functions/quantiles.py::approx_ks_distance):
    per-event-type quantile states of two date windows, then the
    two-sample Kolmogorov-Smirnov distance from the states — drift
    detection without raw re-scans. ONE accumulate scan per family:
    both KS windows are tagged in a single pass, and the handful of
    per-type states is collected to the driver (bounded by the
    event-type dimension — the q41 pattern) for pair assembly, because
    a naive self-join of the state DataFrame re-executes the accumulate
    scan per side (found in the round-8 plan audit). Exact regime for
    both, so DuckDB reproduces the values relationally."""
    from datasketches_spark_spark.operators.sketch_agg import (
        sketch_accumulate_multi, state_measure)
    ev = read_table(spark, sf_dir, "events")
    # r18 optimization: the freq states (collected for pair assembly)
    # and the tuple states (kept distributed) used to be two separate
    # full scans + aggregations of events; ONE multi-measure pass now
    # builds both (guide §2.3 "aggregate before you shuffle", §2.4
    # shared exchange), localCheckpoint-ed so the collect and the tuple
    # leg don't re-execute the scan.
    ftstates = sketch_accumulate_multi(
        ev.withColumn("vi", F.floor(F.col("value") * 100)
          .cast("double")),
        ["event_type"],
        [state_measure("state", "user_id", "freq", item_type="long",
                       max_map_size=8192),
         state_measure("st", ("user_id", "vi"),
                       "tuple")]).localCheckpoint()
    fstates = ftstates.select("event_type", "state").collect()
    fpairs = [(a.event_type, b.event_type, a.state, b.state)
              for a in fstates for b in fstates
              if a.event_type < b.event_type]
    fdf = arrow_local_df(
        spark, fpairs, "ka string, kb string, st_a binary, st_b binary")
    joinsize = fdf.select(
        F.lit("joinsize").alias("leg"), "ka", "kb",
        dsf.approx_join_size("st_a", "st_b").cast("double").alias("v"))
    day = F.date_trunc("day", F.col("ts"))
    w = (F.when((day >= "2024-01-01") & (day < "2024-01-15"), "a")
         .when((day >= "2024-01-15") & (day < "2024-01-29"), "b"))
    qstates = (ev.withColumn("w", w).where(F.col("w").isNotNull())
               .groupBy("event_type", "w")
               .agg(dsf.approx_percentile_accumulate(
                   "value", impl="MERGEABLE", k=_QK).alias("st"))
               .collect())
    by_key = {(r.event_type, r.w): r.st for r in qstates}
    kpairs = [(t, by_key[(t, "a")], by_key[(t, "b")])
              for t in sorted({r.event_type for r in qstates})
              if (t, "a") in by_key and (t, "b") in by_key]
    kdf = arrow_local_df(
        spark, kpairs, "ka string, st_a binary, st_b binary")
    ks = kdf.select(F.lit("ks").alias("leg"), "ka",
                    F.lit("").alias("kb"),
                    dsf.approx_ks_distance("st_a", "st_b").alias("v"))
    # Leg 'tuple' (round 9, functions/tuplesketch.py): the per-key-summary
    # family — ONE tuple state per event type (two-phase accumulate over
    # (user_id, floor(value*100)): key sample + exact per-key count/sum)
    # answers NDV, total rows, total value AND the per-key-predicate
    # segment "users with >= 20 events and their value" without touching
    # raw data again. floor(value*100) keeps every sum integer-valued in
    # float64, so summation order cannot enter the hash. Exact regime
    # (NDV per type << k=4096); estimation-mode coverage is gated by
    # accuracy_report.py.
    tstates = ftstates.select("event_type", "st")
    te = dsf.approx_tuple_estimate("st")
    tseg = dsf.approx_tuple_segment_estimate("st", 20)
    tup = tstates.select(
        F.col("event_type").alias("ka"), te.alias("e"), tseg.alias("s")) \
        .selectExpr("ka",
                    "stack(5, 'ndv', CAST(e.ndv AS DOUBLE), "
                    "'rows', CAST(e.rows AS DOUBLE), "
                    "'vsum', e.value_sum, "
                    "'seg_keys', CAST(s.keys AS DOUBLE), "
                    "'seg_sum', s.value_sum) AS (kb, v)") \
        .select(F.lit("tuple").alias("leg"), "ka", "kb", "v")
    return (joinsize.unionByName(ks).unionByName(tup)
            .orderBy("leg", "ka", "kb"))


def _q58_streaming_windowed_evict(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Windowed streaming sketch accumulate WITH state eviction — the
    round-6 'weak at scale' gap, oracle-gated: daily event-time windows
    + 1-day watermark + `evict_after='2 days'`
    (`streaming/sketch_stream.py::sketch_accumulate_stream`,
    GroupStateTimeout.EventTimeTimeout), so closed windows LEAVE the
    state store instead of accumulating forever. The replay is written
    time-ordered in two chunks (watermark advances between triggers
    without any row going late), so every window's final state is
    complete and the per-day median matches DuckDB exactly."""
    import shutil
    import tempfile
    import uuid
    from datasketches_spark_spark.streaming import (
        await_or_fail, sketch_accumulate_stream, with_event_time_watermark)
    ev = read_table(spark, sf_dir, "events").select("ts", "value")
    src = tempfile.mkdtemp(prefix="dss_q58_src_")
    # two time-ordered chunks -> two triggers; the watermark set by
    # chunk 1 is behind every chunk-2 timestamp, so nothing drops late
    ev.where(F.col("ts") < "2024-01-15").coalesce(1) \
        .write.mode("append").parquet(src)
    ev.where(F.col("ts") >= "2024-01-15").coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    marked = with_event_time_watermark(stream, "ts", "1 day")
    keyed = marked.select(F.window("ts", "1 day").alias("win"), "value")
    out = sketch_accumulate_stream(keyed, ["win"], "value",
                                   family="quantile", impl="MERGEABLE",
                                   k=_QK, evict_after="2 days")
    name = f"q58_sink_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="dss_q58_ckpt_")
    try:
        with session_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
            q = (out.writeStream.format("memory").queryName(name)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            await_or_fail(q, 300)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    final = spark.sql(f"""
        SELECT win, state FROM (
          SELECT *, row_number() OVER (
            PARTITION BY win ORDER BY n DESC) rn FROM {name}
        ) WHERE rn = 1""")
    return (final.select(
        F.date_format("win.start", "yyyy-MM-dd").alias("day"),
        dsf.approx_percentile_estimate("state", 0.5).alias("p50_value"))
        .orderBy("day"))


def _q60_rollup_algebra_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two more read-time shapes over managed rollups
    (operators/rollup.py::SketchRollup), zero raw re-scans in both. Leg
    'setops': the (day, event_type) rollup's Theta states re-grouped into
    two week windows per type, then user-set overlap (intersection size,
    single-division Jaccard) purely from persisted states
    (SketchRollup.query + approx_set_*) — audience-overlap analytics. Leg
    'sample': per-(day, event_type) reservoirs (sample_measure) merged
    over a week window per type at read time — the hypergeometric merge
    keeps the combined sample exactly-uniform; with k above the window
    row count it is the COMPLETE multiset, so the window's event_ids
    reproduce bit-exactly (pinned by md5 of the sorted csv)."""
    import hashlib
    from datasketches_spark_spark.operators import SketchRollup
    from datasketches_spark_spark.operators.sketch_agg import (
        distinct_measure, sample_measure)
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type", "user_id", "event_id")
    # r18: ONE rollup carrying both measures — the two legs used to
    # build two separate rollups over the same (day, event_type) keys,
    # i.e. two full scans of events and two /tmp parquet writes where
    # one multi-measure pass suffices (guide §2.3 "aggregate before you
    # shuffle", §2.4 shared exchange). States are identical per measure:
    # the rollup build machinery is the same sketch_partial_multi either
    # way, and neither family's state depends on the other's presence.
    path = ("/tmp/dss_rollup_setops_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    roll = SketchRollup(path, ["day", "event_type"],
                        [distinct_measure("ndv", "user_id", k=_TK),
                         sample_measure("ids", "event_id", k=262_144,
                                        item_type="long")])
    roll.build(ev)

    def week(lo, hi):
        return roll.query(
            spark, where=(F.col("day") >= lo) & (F.col("day") < hi),
            group_by=["event_type"])

    w1 = week("2024-01-01", "2024-01-08").withColumnRenamed(
        "ndv__state", "s1")
    w2 = week("2024-01-08", "2024-01-15").withColumnRenamed(
        "ndv__state", "s2")
    setops = (w1.join(w2, "event_type")
              .select(F.lit("setops").alias("leg"), "event_type",
                      dsf.approx_set_intersection("s1", "s2")
                      .cast("long").alias("n"),
                      F.lit("").alias("h"),
                      dsf.approx_set_jaccard("s1", "s2").alias("jaccard")))
    win = (F.col("day") >= "2024-01-08") & (F.col("day") < "2024-01-15")
    sample = (roll.estimate(spark, where=win, group_by=["event_type"])
              .select(F.lit("sample").alias("leg"), "event_type",
                      F.size("ids").cast("long").alias("n"),
                      F.md5(F.array_join(
                          F.transform(F.array_sort("ids"),
                                      lambda x: x.cast("string")), ","))
                      .alias("h"),
                      F.lit(None).cast("double").alias("jaccard")))
    return setops.unionByName(sample).orderBy("leg", "event_type")


def _q62_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-time error-bound surfaces across sketch families — what a
    pipeline asserts before trusting a summary table (estimation-mode
    behavior is property-tested; the exact regime makes these
    oracle-able). Leg 'quantile' (functions/quantiles.py::
    approx_percentile_bounds, the DataSketches getQuantileLowerBound/
    UpperBound surface): p95 of l_extendedprice per return flag with an
    explicit rank tolerance — bounds are the values at ranks p +- eps;
    also pins the exact-regime default (eps omitted collapses the
    interval, extra=1). Leg 'ndv' (approx_count_distinct_bounds,
    approx_freqitems_maxerr): the NDV interval collapses to the exact
    count and the freq-items max error is 0 (extra).

    Round 18 (optimization): the eight legs used to build their inputs
    independently — 4 lineitem scans (three quantile accumulates + the
    exact window) and ~8 events scans (five sketch aggregations, three
    countDistinct passes, plus the bloom aggregation executing TWICE:
    once for the driver collect and again inside the bloom leg's join).
    Now ONE ``sketch_accumulate_multi`` pass per base table builds every
    sketch state (guide §2.3/§2.4: aggregate before the shuffle, share
    the scan), one grouped aggregate computes all three exact NDVs, and
    the tiny state/exact tables are ``localCheckpoint``-ed so the
    8-way union cannot re-execute their lineage per leg. Values are
    unchanged: every state family here is update-order-independent in
    what the legs surface (see each leg's comment), and the two-phase
    machinery is the same one ``sketch_accumulate`` used."""
    from datasketches_spark_spark.operators.sketch_agg import (
        sketch_accumulate_multi, state_measure)
    li = read_table(spark, sf_dir, "lineitem")
    li_states_lazy = sketch_accumulate_multi(
        li, ["l_returnflag"],
        [state_measure("state", "l_extendedprice", "quantile",
                       impl="MERGEABLE", k=_QK),
         state_measure("qs", "l_extendedprice", "quantile",
                       impl="KLL", k=200),
         state_measure("xs", "l_extendedprice", "quantile",
                       impl="MERGEABLE", k=64)])
    ev = read_table(spark, sf_dir, "events")
    # item = user_id with every 10th user collapsed onto {0,1,2} (the
    # freq_est leg's deterministic heavy-hitter mapping, see below) —
    # derived here so the single multi-measure pass can sketch it.
    item = F.when(F.col("user_id") % 10 == 0, F.col("user_id") % 3) \
        .otherwise(F.col("user_id"))
    evx = ev.select("event_type", "user_id", "event_id", "value",
                    item.alias("item"))
    ev_states_lazy = sketch_accumulate_multi(
        evx, ["event_type"],
        [state_measure("ts", "user_id", "theta", k=_TK),
         state_measure("fs", "user_id", "freq", item_type="long",
                       max_map_size=8192),
         state_measure("hs", "event_id", "hll", lgk=12),
         state_measure("fst", "item", "freq", item_type="long",
                       max_map_size=64),
         state_measure("tst", ("user_id", "value"), "tuple", k=64),
         state_measure("bs", "user_id", "bloom",
                       expected_items=32_768, fpp=0.01)])
    exact_lazy = (evx.groupBy("event_type")
                  .agg(F.countDistinct("event_id").alias("nd"),
                       F.countDistinct("item").alias("nu_item"),
                       F.countDistinct("user_id").alias("nu_raw")))
    # r18 (guide §2.6, overlap independent jobs): the three checkpoint
    # materializations are independent blocking driver calls whose
    # stages leave most cores idle when run back to back — compute them
    # concurrently. Each frame's rows are computed exactly as before;
    # only the job submission overlaps.
    li_states, ev_states, exact = run_concurrently(
        li_states_lazy.localCheckpoint, ev_states_lazy.localCheckpoint,
        exact_lazy.localCheckpoint)
    summ = li_states.select("l_returnflag", "state")
    b = dsf.approx_percentile_bounds("state", 0.95, eps=0.02)
    b0 = dsf.approx_percentile_bounds("state", 0.95)
    quant = (summ.select(
        F.lit("quantile").alias("leg"),
        F.col("l_returnflag").alias("k"),
        F.element_at(b, 1).cast("double").alias("lo"),
        F.element_at(b, 2).cast("double").alias("hi"),
        (F.element_at(b0, 1) == F.element_at(b0, 2))
        .cast("long").alias("extra")))
    st = ev_states.select("event_type", "ts", "fs")
    nb = dsf.approx_count_distinct_bounds("ts")
    ndv = (st.select(
        F.lit("ndv").alias("leg"),
        F.col("event_type").alias("k"),
        F.element_at(nb, 1).cast("double").alias("lo"),
        F.element_at(nb, 2).cast("double").alias("hi"),
        dsf.approx_freqitems_maxerr("fs").cast("long").alias("extra")))
    # ---- estimation-regime legs (round 9): the sketches run PAST their
    # exact phase and the gate hashes DERIVED columns both sides compute.
    # 'ndv_est': engine HLL at lgk=12 over event_id (NDV ~2000/group at
    # sf0.01 > the 2^(lgk-3)=512 sparse cap -> DENSE registers). lo =
    # the exact NDV (computed relationally in Spark; DuckDB recomputes),
    # hi = 1.0 iff the sketch left the exact regime (bounds interval is
    # non-degenerate; DuckDB recomputes as NDV > 512), extra = 1 iff the
    # exact NDV lies inside the engine's published 3-sigma envelope
    # est/(1 +/- 3*1.04/sqrt(2^12)) (DuckDB emits literal 1 — the hash
    # gate fails if the dense-mode estimate ever leaves its bound).
    hll_summ = ev_states.select("event_type", "hs")
    exact_ndv = exact.select("event_type", "nd")
    nb3 = dsf.approx_count_distinct_bounds("hs", num_std=3.0)
    ndv_est = (hll_summ.join(F.broadcast(exact_ndv), "event_type")
               .select(
        F.lit("ndv_est").alias("leg"),
        F.col("event_type").alias("k"),
        F.col("nd").cast("double").alias("lo"),
        (F.element_at(nb3, 1) != F.element_at(nb3, 2))
        .cast("double").alias("hi"),
        ((F.element_at(nb3, 1) <= F.col("nd"))
         & (F.col("nd") <= F.element_at(nb3, 2)))
        .cast("long").alias("extra")))
    # 'quantile_est': KLL at k=200 vs ~20k rows/group -> compaction
    # (estimation mode). lo/hi = the EXACT values at ranks 0.95 +/- 0.02
    # (Spark percentile_disc, relational; DuckDB quantile_disc), extra =
    # 1 iff the sketch's p95 estimate lies inside that exact rank window.
    q_est = li_states.select("l_returnflag", "qs")
    # r18: percentile_disc buffers every raw value per percentile (two
    # 600k-value count maps in the aggregate; measured ~1.0s where the
    # equivalent below is ~0.45s). Same answer from the compressed
    # (flag, value, count) table: percentile_disc(p) IS the smallest
    # value whose cume_dist >= p, computed here as a running-count
    # window over the distinct values (map-side-combined pre-aggregate,
    # so the exchange carries distinct prices, not rows — guide §2.3).
    # cume_dist uses the same double division Spark's PercentileBase
    # applies; equality with the oracle is pinned at every gate SF.
    from pyspark.sql import Window as W
    vc = (li.groupBy("l_returnflag", "l_extendedprice")
          .agg(F.count("*").alias("_c")))
    wcum = (W.partitionBy("l_returnflag").orderBy("l_extendedprice")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy("l_returnflag")
    cume = (F.sum("_c").over(wcum).cast("double")
            / F.sum("_c").over(wall).cast("double"))
    cumed = vc.select("l_returnflag", "l_extendedprice",
                      cume.alias("_cd"))
    exact_win = (cumed.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("_cd") >= 0.93, F.col("l_extendedprice")))
        .cast("double").alias("wlo"),
        F.min(F.when(F.col("_cd") >= 0.97, F.col("l_extendedprice")))
        .cast("double").alias("whi")))
    est95 = dsf.approx_percentile_estimate("qs", 0.95)
    quant_est = (q_est.join(F.broadcast(exact_win), "l_returnflag")
                 .select(
        F.lit("quantile_est").alias("leg"),
        F.col("l_returnflag").alias("k"),
        F.col("wlo").alias("lo"),
        F.col("whi").alias("hi"),
        ((F.col("wlo") <= est95) & (est95 <= F.col("whi")))
        .cast("long").alias("extra")))
    # 'freq_est' (round 11): Misra-Gries PAST exact — max_map_size=64
    # over user_id (NDV 150/group) forces purges. lo = the exact NDV
    # (relational both sides), hi = 1.0 iff maxerr > 0 (DuckDB
    # recomputes as NDV > 64 — a purge is certain past capacity), extra
    # = 1 iff EVERY reported item's estimate sits inside the MG
    # guarantee [true, true + maxerr] (functions/freqitems.py:73;
    # DuckDB emits literal 1 — the gate fails if the envelope is ever
    # violated). All three are update-order-independent booleans, so
    # the leg is layout-proof even though a purged MG state itself is
    # order-dependent.
    # item = user_id with every 10th user collapsed onto {0,1,2}: a
    # deterministic relational mapping that plants 3 heavy hitters
    # (~65 rows each) over a ~138-distinct tail, so MG both purges
    # (NDV > 64) AND reports items (the fixture's raw columns are
    # uniform — nothing would clear the NO_FALSE_POSITIVES threshold).
    evm = evx.select("event_type", "item")
    exact_users = exact.select("event_type", F.col("nu_item").alias("nu"))
    fr = ev_states.select("event_type", "fst")
    per_item = evm.groupBy("event_type", "item").agg(
        F.count("*").alias("tc"))
    fx = fr.select(
        "event_type", dsf.approx_freqitems_maxerr("fst").alias("me"),
        F.explode_outer(
            dsf.approx_freqitems_estimate("fst", item_type="long"))
        .alias("it"))
    freq_est = (fx.join(per_item,
                        (fx.event_type == per_item.event_type)
                        & (fx.it.item == per_item.item), "left")
                .groupBy(fx.event_type)
                .agg(F.max("me").alias("me"),
                     F.min(F.coalesce(
                         ((F.col("it.estimated") >= F.col("tc"))
                          & (F.col("it.estimated")
                             <= F.col("tc") + F.col("me")))
                         .cast("long"), F.lit(1))).alias("env"),
                     F.count("it").alias("n_rep"))
                .join(F.broadcast(exact_users), "event_type")
                .select(F.lit("freq_est").alias("leg"),
                        F.col("event_type").alias("k"),
                        F.col("nu").cast("double").alias("lo"),
                        (F.col("me") > 0).cast("double").alias("hi"),
                        # env AND at least one reported item (the
                        # planted heavy hitters make emptiness a bug)
                        (F.col("env").cast("boolean")
                         & (F.col("n_rep") > 0)).cast("long")
                        .alias("extra")))
    # 'tuple_est' (round 11): the tuple/KMV family PAST exact — k=64
    # over (user_id, value) saturates at NDV 150. lo = exact NDV, hi =
    # 1.0 iff the approx_tuple_bounds interval is non-degenerate
    # (saturation; DuckDB: NDV > 64), extra = 1 iff the exact NDV lies
    # inside the 3-sigma KMV envelope AND segment_estimate(1) equals
    # estimate() (the one-sample invariant; accuracy_report proves the
    # envelope at 2M rows — this pins it at the driver gate).
    exact_raw_users = exact.select("event_type",
                                   F.col("nu_raw").alias("nu"))
    tst = ev_states.select("event_type", F.col("tst").alias("ts"))
    tb = dsf.approx_tuple_bounds("ts", num_std=3.0)
    te = dsf.approx_tuple_estimate("ts")
    seg = dsf.approx_tuple_segment_estimate("ts", 1)
    tuple_est = (tst.join(F.broadcast(exact_raw_users), "event_type")
                 .select(
        F.lit("tuple_est").alias("leg"),
        F.col("event_type").alias("k"),
        F.col("nu").cast("double").alias("lo"),
        (F.element_at(tb, 1) != F.element_at(tb, 2))
        .cast("double").alias("hi"),
        ((F.element_at(tb, 1) <= F.col("nu"))
         & (F.col("nu") <= F.element_at(tb, 2))
         & (seg["keys"] == te["ndv"]))
        .cast("long").alias("extra")))
    # 'bloom' (round 12): the Bloom membership family's guarantees as
    # order-independent booleans (functions/membership.py; the family
    # bloom_prefilter_match builds its exactness on). Per event_type
    # over user_id, expected_items=32768 (covers sf1 under-full):
    # lo = 1.0 iff EVERY inserted key tests positive (no false
    # negatives); hi = 1.0 iff the observed FP rate on a provably
    # disjoint probe set (user_id + 10^9) is <= 2x the design fpp;
    # extra = 1 iff the fill-ratio NDV estimate (Swamidass-Baldi) is
    # within 10% of the exact NDV. DuckDB emits the literals — the
    # hash gate fails if any guarantee is ever violated.
    bst = ev_states.select("event_type", "bs")
    # bounded collect (|event types| rows of 39 KB states): probes run
    # through the keyed-broadcast UDF so the state never rides a column
    # past Arrow once per probe row (functions/udfs.py rationale)
    from datasketches_spark_spark.functions.udfs import (
        bloom_contains_keyed_udf)
    bmap = {r.event_type: bytes(r.bs) for r in bst.collect()}
    bbc = spark.sparkContext.broadcast(bmap)
    probe = bloom_contains_keyed_udf(bbc)
    uids = ev.select("event_type", "user_id").distinct()
    bprobe = uids.select(
        "event_type",
        probe(F.col("event_type"), F.col("user_id")).alias("hit"),
        probe(F.col("event_type"),
              F.col("user_id") + F.lit(10**9)).alias("fp"))
    bloom_leg = (bprobe.groupBy("event_type")
                 .agg(F.min(F.col("hit").cast("int")).alias("all_in"),
                      F.avg(F.col("fp").cast("int")).alias("fp_rate"),
                      F.count("*").alias("nd"))
                 .join(F.broadcast(bst), "event_type")
                 .select(
        F.lit("bloom").alias("leg"),
        F.col("event_type").alias("k"),
        F.col("all_in").cast("double").alias("lo"),
        (F.col("fp_rate") <= 0.02).cast("double").alias("hi"),
        ((F.abs(dsf.approx_membership_estimate("bs").cast("double")
                - F.col("nd")) <= 0.1 * F.col("nd")))
        .cast("long").alias("extra")))
    # 'extremes_est' (round 16, the r15 verdict's estimation-regime
    # extremes gate): MERGEABLE (float64 KLL core) at k=64 over ~20k
    # rows/group — deep in the estimation regime — must still answer
    # quantile(0.0)/quantile(1.0) EXACTLY (tracked stream extrema,
    # sketches/kll.py serde v3; the DataSketches getMinValue/
    # getMaxValue contract). lo/hi = the sketch's own rank-0/1
    # answers, hash-matched against DuckDB's exact MIN/MAX; extra = 1
    # iff the sketch's own rank-error interval at p50 is non-degenerate
    # (proof the state actually left the exact regime — DuckDB
    # recomputes as count(*) far past the k=64 capacity).
    ex_est = li_states.select("l_returnflag", "xs")
    xb = dsf.approx_percentile_bounds("xs", 0.5)
    extremes_est = ex_est.select(
        F.lit("extremes_est").alias("leg"),
        F.col("l_returnflag").alias("k"),
        dsf.approx_percentile_estimate("xs", 0.0)
        .cast("double").alias("lo"),
        dsf.approx_percentile_estimate("xs", 1.0)
        .cast("double").alias("hi"),
        (F.element_at(xb, 1) != F.element_at(xb, 2))
        .cast("long").alias("extra"))
    return (quant.unionByName(ndv).unionByName(ndv_est)
            .unionByName(quant_est).unionByName(freq_est)
            .unionByName(tuple_est).unionByName(bloom_leg)
            .unionByName(extremes_est)
            .orderBy("leg", "k"))


def _q66_streaming_summary_sink(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The second streaming shape (`streaming/sketch_stream.py::
    streaming_summary_sink`): every micro-batch runs the batch two-phase
    accumulate and APPENDS per-batch states to a parquet summary table —
    no state store at all; the table IS the state. Query-time combine
    over all batches equals the batch answer (exact regime). This is the
    continuously-maintained version of the reference's accumulate ->
    combine -> estimate pipeline."""
    import shutil
    import tempfile
    from datasketches_spark_spark.streaming import (
        await_or_fail, streaming_summary_sink)
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    src = tempfile.mkdtemp(prefix="dss_q66_src_")
    sink = tempfile.mkdtemp(prefix="dss_q66_sink_")
    shutil.rmtree(sink)  # the sink must create it
    ckpt = tempfile.mkdtemp(prefix="dss_q66_ckpt_")
    ev.repartition(2).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    writer = streaming_summary_sink(
        stream, ["event_type"], "value", family="quantile",
        impl="MERGEABLE", k=_QK, path=sink, checkpoint=ckpt)
    # r18: AQE is off under structured streaming, so each micro-batch's
    # accumulate exchange ran at the full batch shuffle-partition count
    # (32 near-empty tasks per trigger for a states-per-group result);
    # size it to the group cardinality like q24/q36/q58 already do.
    try:
        with session_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
            await_or_fail(writer.trigger(availableNow=True).start(), 300)
            # localCheckpoint materializes the (tiny, state-per-group)
            # summary so the sink/source/checkpoint dirs can be removed
            # before the lazy result is evaluated — no /tmp leak per run
            summary = spark.read.parquet(sink).localCheckpoint()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return (summary.groupBy("event_type")
            .agg(dsf.approx_percentile_combine("state").alias("m"))
            .select("event_type",
                    dsf.approx_percentile_estimate("m", 0.5)
                    .alias("p50_value"))
            .orderBy("event_type"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q03_percentile_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ---- exactly 50 entries (round 9): the driver's correctness
        # ---- window records 50 queries, so the board IS the window —
        # ---- every body shipped here gets a hash-gated entry. The five
        # ---- redundant-coverage variants that used to sit at positions
        # ---- 51-55 live in demo_queries(), pytest-gated.
        "q01_percentile_by_flag": _q01_percentile_by_flag,
        "q03_percentile_pipeline": _q03_percentile_pipeline,
        "q04_pmf": _q04_pmf,
        "q05_ndv_by_type": _q05_ndv_by_type,
        "q06_ndv_pipeline": _q06_ndv_pipeline,
        "q07_ndv_hll": _q07_ndv_hll,
        "q08_freqitems_brand": _q08_freqitems_brand,
        "q09_freqitems_pipeline": _q09_freqitems_pipeline,
        "q12_percentile_impls": _q12_percentile_impls,
        "q13_percentile_sql": _q13_percentile_sql,
        "q14_dedup_exact_normalized": _q14_dedup_exact_normalized,
        "q15_dedup_minhash": _q15_dedup_minhash,
        "q16_ngram_topk": _q16_ngram_topk,
        "q17_simhash_portable_pairs": _q17_simhash_portable_pairs,
        "q18_embedding_neardup": _q18_embedding_neardup,
        "q19_ann_topk": _q19_ann_topk,
        "q20_textstats": _q20_textstats,
        "q21_quality_repetition": _q21_quality_repetition,
        "q22_langid": _q22_langid,
        "q24_streaming_multi": _q24_streaming_multi,
        "q25_ivf_ann": _q25_ivf_ann,
        "q26_fingerprint_chunks": _q26_fingerprint_chunks,
        "q27_winnow_portable_pairs": _q27_winnow_portable_pairs,
        "q29_mixed_sql": _q29_mixed_sql,
        "q30_stratified_sample": _q30_stratified_sample,
        "q31_weighted_sample": _q31_weighted_sample,
        "q32_sampling_sql": _q32_sampling_sql,
        "q34_wire_interop": _q34_wire_interop,
        "q35_rank_cdf": _q35_rank_cdf,
        "q36_streaming_dedup": _q36_streaming_dedup,
        "q37_embedding_quantize": _q37_embedding_quantize,
        "q38_media_codecs": _q38_media_codecs,
        "q40_cpc_native_accumulate": _q40_cpc_native_accumulate,
        "q41_theta_wire_setops": _q41_theta_wire_setops,
        "q42_ngram_jaccard_dedup": _q42_ngram_jaccard_dedup,
        "q43_dedup_graph": _q43_dedup_graph,
        "q44_incremental_dedup": _q44_incremental_dedup,
        "q45_token_budget_mix": _q45_token_budget_mix,
        "q46_session_ndv": _q46_session_ndv,
        "q48_decontamination": _q48_decontamination,
        "q49_asof_attribution": _q49_asof_attribution,
        "q50_pii_redaction": _q50_pii_redaction,
        "q52_rollup_lifecycle": _q52_rollup_lifecycle,
        "q53_phash_dedup": _q53_phash_dedup,
        "q54_ivf_index_query": _q54_ivf_index_query,
        "q55_cross_state_estimates": _q55_cross_state_estimates,
        "q58_streaming_windowed_evict": _q58_streaming_windowed_evict,
        "q60_rollup_algebra_sample": _q60_rollup_algebra_sample,
        "q62_error_bounds": _q62_error_bounds,
        "q66_streaming_summary_sink": _q66_streaming_summary_sink,
    }


def _demo_bm25_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 at a different operating point (k1=2.0, b=0.5, k=5) — same
    machinery as q16's leg, different saturation/length-normalization
    constants, gated by the same oracle recipe."""
    from datasketches_spark_spark.operators import bm25_topk
    docs = read_table(spark, sf_dir, "documents")
    return (bm25_topk(docs, "doc_id", "text",
                      [("qa", "table data group"), ("qb", "big small line")],
                      k=5, k1=2.0, b=0.5)
            .orderBy("query_id", "rank"))


def _demo_spans_k12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicated_spans at k=12 (longer windows, sparser hits) emitting
    the raw span rows q14's leg aggregates away."""
    from datasketches_spark_spark.operators import duplicated_spans
    docs = read_table(spark, sf_dir, "documents")
    return (duplicated_spans(docs, "doc_id", "text", k=12)
            .orderBy("doc_id", "span_idx"))


def _demo_mixture_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mixture_weights over the 20-source dimension at alpha=0.7 — the
    flatter-temperature, finer-strata variant of q45's leg."""
    from datasketches_spark_spark.functions.text import token_count
    from datasketches_spark_spark.operators import mixture_weights
    docs = (read_table(spark, sf_dir, "documents")
            .withColumn("toks", token_count("text")))
    return (mixture_weights(docs, "source", "toks", alpha=0.7,
                            budget=50_000)
            .orderBy("source"))


def _demo_semdedup_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup_drops with 16 seed centroids (twice q18's leg) —
    smaller clusters, same deterministic rule."""
    from datasketches_spark_spark.operators import semantic_dedup_drops
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>")
        .alias("embedding"))
    twins = (emb.where(F.col("vec_id") % 2 == 0)
             .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                     F.transform(
                         "embedding",
                         lambda x, i: F.when(i == 0, x * 1.02).otherwise(x))
                     .alias("embedding")))
    corpus = emb.unionByName(twins)
    return (semantic_dedup_drops(corpus, emb.where("vec_id < 16"),
                                 eps=0.98)
            .orderBy("cluster", "id_dropped"))


def _demo_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop table profile (operators/profile.py::profile_table) of
    four events columns — rows/nulls/ndv/min/max/p50/top-k from exactly
    two column-pruned scans (one JVM aggregate + one multi-measure
    sketch pass), exact in the exact regime."""
    from datasketches_spark_spark.operators import profile_table
    ev = read_table(spark, sf_dir, "events")
    return profile_table(ev, columns=["event_id", "user_id",
                                      "event_type", "value"])


def _demo_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect-then-cut: duplicated_spans(k=8) applied with remove_spans
    — every document's cleaned text (md5-pinned) and removed-token
    count; the removal half of the Lee et al. pipeline."""
    from datasketches_spark_spark.operators import (duplicated_spans,
                                                    remove_spans)
    docs = read_table(spark, sf_dir, "documents")
    spans = duplicated_spans(docs, "doc_id", "text", k=8)
    out = remove_spans(docs, spans, "doc_id", "text")
    return (out.select("doc_id", F.md5("text").alias("h"),
                       "n_removed_tokens")
            .orderBy("doc_id"))


def _demo_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal (operators/dedup.py::
    dedup_lines): the corpus is given a synthetic line structure
    (12-token segments joined by newlines) and odd doc_ids are
    UPPERCASED — the normalization (lower/trim/collapse) must still
    collapse case variants into one fingerprint, so any line whose
    normalized form appears in >= 2 distinct documents is cut from
    every document that carries it. Per doc: cleaned-text md5 (pins
    line order and reassembly), line counts, chars removed."""
    from datasketches_spark_spark.operators import dedup_lines
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.ceil(F.size(toks) / F.lit(12.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(toks, i * 12 + 1, 12), " "))
    seg = docs.select("doc_id", F.array_join(lines, "\n").alias("t"))
    seg = seg.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1, F.upper("t"))
        .otherwise(F.col("t")).alias("t"))
    out = dedup_lines(seg, "doc_id", "t", min_doc_freq=2)
    return (out.select("doc_id", F.md5("text_clean").alias("h"),
                       "n_lines", "n_removed", "chars_removed")
            .orderBy("doc_id"))


def _demo_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/retrieval.py::
    mine_hard_negatives): per probe query, the top-8 BM25 documents
    AFTER excluding that query's labeled positives (q1 excludes
    doc_id%3==0, q2 %3==1, q3 %3==2 — a third of the corpus each, so
    the exclusion genuinely reshuffles the ranking). Default depth is
    the exact bound k + max positives, so the gate pins the
    no-recall-loss property, the anti-join, and the re-rank."""
    from datasketches_spark_spark.operators import mine_hard_negatives
    docs = read_table(spark, sf_dir, "documents")
    pos = None
    for i, (qid, _) in enumerate(_BM25_QUERIES):
        p = (docs.where(F.col("doc_id") % 3 == i)
             .select(F.lit(qid).alias("query_id"), "doc_id"))
        pos = p if pos is None else pos.unionByName(p)
    out = mine_hard_negatives(docs, "doc_id", "text", _BM25_QUERIES,
                              pos, k=8)
    return (out.select("query_id",
                       F.col("doc_id").cast("long").alias("doc_id"),
                       F.col("rank").cast("long").alias("rank"),
                       F.col("score"))
            .orderBy("query_id", "rank"))


def _demo_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup via the Bloom prefilter (operators/
    dedup.py::bloom_prefilter_match; round 12). The incoming batch
    PLANTS the snapshot-carry-over shape the operator targets: 200
    byte-identical copies of corpus docs (re-keyed +100000) mixed with
    100 mutated definite-new docs (+200000, ' UNIQ' suffix). The
    operator must return EXACTLY the carry-over rows: Bloom's
    no-false-negative guarantee means the prefilter drops only
    definite-new docs, and the exact verify join removes the ~fpp false
    positives — so the full-value oracle is the plain fingerprint
    semi-join. One dropped duplicate or surviving false positive
    hash-fails the gate."""
    from datasketches_spark_spark.operators import bloom_prefilter_match
    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= 100)
    carry = (corpus.where(F.col("doc_id") < 300)
             .select((F.col("doc_id") + 100_000).alias("doc_id"), "text"))
    fresh = (docs.where(F.col("doc_id") < 100)
             .select((F.col("doc_id") + 200_000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" UNIQ"))
                     .alias("text")))
    incoming = carry.unionByName(fresh)
    out = bloom_prefilter_match(incoming, corpus, "doc_id",
                                text_col="text", fpp=0.001)
    return out.select("doc_id", "fingerprint").orderBy("doc_id")


def _demo_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation (operators/domains.py; round 12): the
    C4/RefinedWeb stage that scores and filters at the SOURCE level.
    The corpus plants a mirror (re-keyed byte-identical copies of
    src1's own docs, driving src1's dup_frac to 0.5); the pipeline is
    stats -> drop list (blocklist src2 + dup rule) -> filter -> per-
    domain cap (3 largest docs by n_chars). Output: one row per
    surviving domain with its stats, plus kept count under the cap —
    every ratio a single integer division, fully replayed by the
    DuckDB oracle. Round 13 adds ``n_unique_theta``: the sketch-NDV
    mode (state-carrying exchange — the 100 TB path; see SCALE.md) in
    its exact regime, where theta retains every hash below k and the
    estimate IS the distinct count, so the oracle is the same
    ``count(DISTINCT ...)``.

    CAVEAT: registered-domain grouping uses the bundled PSL snapshot
    (640 rules vs ~9,600 in the current Mozilla list — no network in
    this build environment; gap enumerated in
    ``data/psl_snapshot.dat``'s header). Hosts under the ~2,270
    missing PRIVATE-section suffixes (small PaaS/CDN/dyn-DNS) group
    at the registry level instead of the service-customer level; for
    production parity load the full list via
    ``PublicSuffixList.load(path)`` — same format, same code path."""
    from datasketches_spark_spark.operators import (
        cap_per_domain, domain_drop_list, domain_stats, filter_by_domain)
    docs = read_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "source", "n_chars")
    mirror = (docs.where(F.col("source") == "src1")
              .select((F.col("doc_id") + 100_000).alias("doc_id"),
                      "text", "source", "n_chars"))
    corpus = docs.unionByName(mirror)
    stats = domain_stats(corpus, "source", "doc_id", "text")
    drops = domain_drop_list(stats, blocklist=("src2",),
                             max_dup_frac=0.25)
    kept = filter_by_domain(corpus, "source", drops)
    capped = cap_per_domain(kept, "source", 3,
                            [F.col("n_chars").desc(), F.col("doc_id")])
    n_kept = capped.groupBy(F.col("source").alias("domain")).agg(
        F.count("*").cast("long").alias("n_capped"),
        F.sum("doc_id").cast("long").alias("kept_id_sum"))
    theta = (domain_stats(corpus, "source", "doc_id", "text",
                          ndv="theta")
             .select("domain",
                     F.col("n_unique").alias("n_unique_theta")))
    return (stats.join(n_kept, "domain", "inner")
            .join(theta, "domain", "inner")
            .select("domain", "n_docs", "n_unique", "n_unique_theta",
                    F.round("dup_frac", 6).alias("dup_frac"),
                    "n_tokens", F.round("pass_frac", 6).alias("pass_frac"),
                    "n_capped", "kept_id_sum")
            .orderBy("domain"))


def _demo_trigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram LM perplexity (operators/lm.py::
    perplexity_score_trigram; round 12): Jelinek-Mercer mixture
    l3*P3 + l2*P2 + l1*P1 with add-k components, trained on the full
    corpus, scored on doc_id < 150. The oracle refits the same model in
    SQL with the identical IEEE expression tree (component probability,
    then weighted sum, then one ln; interpolation weights written as
    the exact Python-float reprs, e.g. l3+l2 = 0.7999999999999999),
    rounds applied AFTER all arithmetic — every per-document float must
    agree to 6 digits."""
    from datasketches_spark_spark.operators import (
        perplexity_score_trigram, train_trigram_lm)
    docs = read_table(spark, sf_dir, "documents")
    uni, bi, tri = train_trigram_lm(docs, "text")
    out = perplexity_score_trigram(docs.where(F.col("doc_id") < 150),
                                   "doc_id", "text", uni, bi, tri)
    return out.orderBy("doc_id")


def _demo_url_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup (functions/urls.py; round
    12): four deterministic URL variants per doc_id group — scheme-case
    + www + default-port + tracking-params + fragment + trailing-slash
    noise, a param-order permutation, a co.uk subdomain, and a
    gclid-polluted copy — canonicalize so the three same-page variants
    COLLAPSE to one key and the co.uk page keys its registrable domain.
    Round 13 adds ``rd_psl``: the same hosts resolved through a LOADED
    Public Suffix List fixture exercising plain + wildcard + exception
    rules (``*.co.uk`` makes every ``h<k>.co.uk`` a public suffix, so
    the registrable domain grows a label; ``!h3.co.uk`` carves the
    exception back out). Output: (registered_domain, rd_psl,
    canonical_url, n, min_id) — the oracle replays every regexp/split
    step AND the PSL decision chain verbatim, so one mis-normalized
    byte or a wrong rule precedence hash-fails."""
    from datasketches_spark_spark.functions.urls import (
        PublicSuffixList, canonicalize_url, url_registered_domain)
    psl = PublicSuffixList.parse([
        "// demo fixture: plain + wildcard + exception",
        "com", "uk", "co.uk", "*.co.uk", "!h3.co.uk"])
    # r14: the committed snapshot (data/psl_snapshot.dat) resolves a
    # SECOND host family chosen to hit bundled-only rule kinds —
    # private-section suffix, *.ck wildcard, !city.kawasaki.jp
    # exception, implicit-* fallback; the oracle replays each decision
    psl_b = PublicSuffixList.bundled()
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 400).select("doc_id")
    k = F.floor(F.col("doc_id") / 4).cast("long")
    m = F.col("doc_id") % 4
    h = F.concat(F.lit("h"), (k % 10).cast("string"))
    ks = k.cast("string")
    url = (F.when(m == 0, F.concat(
                F.lit("https://WWW."), h, F.lit(".Example.com:443/a/"),
                ks, F.lit("/?utm_source=x&b=2&a=1#frag")))
           .when(m == 1, F.concat(
                F.lit("https://"), h, F.lit(".example.com/a/"), ks,
                F.lit("?a=1&b=2")))
           .when(m == 2, F.concat(
                F.lit("https://Sub."), h, F.lit(".co.uk/q/"), ks))
           .otherwise(F.concat(
                F.lit("https://"), h, F.lit(".example.com/a/"), ks,
                F.lit("?gclid=9&b=2&a=1"))))
    url2 = (F.when(m == 0, F.concat(
                F.lit("https://user"), ks, F.lit(".github.io/p")))
            .when(m == 1, F.concat(
                F.lit("https://x.shop.city.kawasaki.jp/"), ks))
            .when(m == 2, F.concat(
                F.lit("https://foo."), h, F.lit(".bar.ck/"), ks))
            .otherwise(F.concat(
                F.lit("https://www.ex"), ks, F.lit(".unknowntld/q"))))
    u = docs.select("doc_id", url.alias("url"), url2.alias("url2"))
    return (u.select("doc_id",
                     url_registered_domain("url").alias("rd"),
                     url_registered_domain("url", psl=psl).alias("rd_psl"),
                     url_registered_domain("url2", psl=psl_b)
                     .alias("rd_b"),
                     canonicalize_url("url").alias("cu"))
            .groupBy("rd", "rd_psl", "rd_b", "cu")
            .agg(F.count("*").cast("long").alias("n"),
                 F.min("doc_id").alias("min_id"))
            .orderBy("rd", "rd_psl", "rd_b", "cu"))


def _demo_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (operators/ordering.py; round 12):
    epoch-1 training order of the corpus under seed epoch_seed(42, 1) —
    a reproducible pseudo-random permutation computed WITHOUT a global
    window (256 hash buckets + driver-side O(buckets) offsets +
    partitioned rank). The oracle replays the entire permutation with
    one row_number() over the portable md5 key, so a single misplaced
    position hash-fails. Output restricted to doc_id < 300 AFTER the
    full-corpus position assignment."""
    from datasketches_spark_spark.operators import (epoch_seed,
                                                    global_shuffle)
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    out = global_shuffle(docs, "doc_id", seed=epoch_seed(42, 1))
    return (out.where(F.col("doc_id") < 300)
            .select("doc_id", "shuffle_pos").orderBy("doc_id"))


def _demo_webp_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy VP8 WebP decode (round 13, operators/webpnative.py): the
    committed real-VP8 fixtures (encoded once with the system libwebp,
    frozen in tests/data/) decode inside an Arrow mapInPandas pass —
    the q38 'img' leg shape — to (name, h, w, px_md5). VP8 decoding is
    exactly specified (RFC 6386): every compliant decoder produces
    bit-identical pixels for these streams, so the oracle pins the
    decoded-pixel md5s as literals, stable across libwebp versions."""
    import hashlib
    import os

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    data_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "tests", "data")
    rows = []
    for name in ("lossy_gradient_q80.webp", "lossy_photo_q60.webp",
                 "lossy_solid_q50.webp"):
        with open(os.path.join(data_dir, name), "rb") as fh:
            rows.append((name, bytearray(fh.read())))
    df = spark.createDataFrame(rows, "name string, payload binary") \
        .repartition(2)
    schema = StructType([
        StructField("name", StringType()),
        StructField("h", LongType()),
        StructField("w", LongType()),
        StructField("px_md5", StringType()),
    ])

    def run(batches):
        from datasketches_spark_spark.operators import decode_image
        for pdf in batches:
            out = []
            for name, payload in zip(pdf["name"], pdf["payload"]):
                img = decode_image(bytes(payload))
                out.append((name, img.shape[0], img.shape[1],
                            hashlib.md5(img.tobytes()).hexdigest()))
            yield pd.DataFrame(out, columns=["name", "h", "w", "px_md5"])

    return df.mapInPandas(run, schema).orderBy("name")


def _demo_tiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF through the engine's image plumbing (round 13,
    operators/tiffcodec.py — cross-validated live vs the system libtiff
    in pytest): solid-color TIFF payloads built from relational columns
    encode -> sniff -> decode in one Arrow pass (the q38 'img' shape);
    decoded means/shape roll up per source, so DuckDB recomputes every
    value from (doc_id, n_chars) — a full-value oracle, no literals."""
    import pandas as pd
    from pyspark.sql.types import BinaryType

    def _mk_tiff(r, g):
        import numpy as np

        from datasketches_spark_spark.operators import encode_tiff
        return pd.Series(
            [encode_tiff(np.full((6, 9, 3), [int(rv), int(gv), 7],
                                 dtype=np.uint8))
             for rv, gv in zip(r, g)], dtype=object)

    def _feat(p):
        from datasketches_spark_spark.operators import decode_image
        from datasketches_spark_spark.operators.imagecodec import (
            sniff_format)
        hh, ww, rr, gg = [], [], [], []
        for blob in p:
            assert sniff_format(bytes(blob)) == "tiff"
            img = decode_image(bytes(blob))
            hh.append(img.shape[0])
            ww.append(img.shape[1])
            rr.append(float(img[:, :, 0].mean()))
            gg.append(float(img[:, :, 1].mean()))
        return pd.DataFrame({"h": hh, "w": ww, "r_avg": rr, "g_avg": gg})

    _mk_tiff.__annotations__ = {"r": pd.Series, "g": pd.Series,
                                "return": pd.Series}
    _feat.__annotations__ = {"p": pd.Series, "return": pd.DataFrame}
    make_tiff = F.pandas_udf(_mk_tiff, BinaryType())
    feat = F.pandas_udf(_feat, "h long, w long, r_avg double, g_avg double")

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .select("doc_id", "source", "n_chars"))
    payload = docs.select(
        "source",
        feat(make_tiff((F.col("doc_id") % 256).cast("int"),
                       (F.col("n_chars") % 256).cast("int"))).alias("f"))
    return (payload.groupBy("source")
            .agg(F.count("*").cast("long").alias("n"),
                 F.min("f.h").cast("long").alias("h"),
                 F.min("f.w").cast("long").alias("w"),
                 F.avg("f.r_avg").alias("r_avg"),
                 F.avg("f.g_avg").alias("g_avg"))
            .orderBy("source"))


def _demo_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion end-to-end (round 13, operators/warc.py): the
    corpus re-frames itself as Common-Crawl-style WARC.gz files (one
    gzip member per conversion record — built per PARTITION in an
    Arrow pass; the driver only writes the handful of file blobs, a
    bounded foreign-side simulation like q34's jar-built states), then
    ``read_warc`` ingests the directory and the engine derives domain
    keys and text stats back out. Every output value is recomputable
    from the documents table, so the oracle replays it all in SQL."""
    import gzip
    import os
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql.types import BinaryType
    from datasketches_spark_spark.operators import read_warc
    from datasketches_spark_spark.functions.urls import (
        url_registered_domain)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 300)
            .select("doc_id", "text").repartition(2))

    def _mk_warc(pdf_iter):
        for pdf in pdf_iter:
            recs = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                payload = str(text).encode("utf-8")
                head = (
                    "WARC/1.0\r\n"
                    "WARC-Type: conversion\r\n"
                    f"WARC-Target-URI: <https://h{int(did) % 10}"
                    f".example{int(did) % 3}.com/p/{int(did)}>\r\n"
                    "WARC-Date: 2026-08-15T00:00:00Z\r\n"
                    f"WARC-Record-ID: <urn:uuid:{int(did)}>\r\n"
                    "Content-Type: text/plain\r\n"
                    f"Content-Length: {len(payload)}\r\n\r\n"
                ).encode()
                recs.append(gzip.compress(head + payload + b"\r\n\r\n"))
            yield pd.DataFrame({"blob": [b"".join(recs)]})

    files = docs.mapInPandas(_mk_warc, "blob binary").collect()
    d = tempfile.mkdtemp(prefix="dss_warc_demo_")
    try:
        for i, row in enumerate(files):
            with open(os.path.join(d, f"part{i}.warc.gz"), "wb") as fh:
                fh.write(bytes(row.blob))
        out = (read_warc(spark, d, types=("conversion",))
               .select(
                   F.regexp_extract("record_id", r"(\d+)$", 1)
                   .cast("long").alias("doc_id"),
                   url_registered_domain("target_uri").alias("domain"),
                   F.decode("payload", "utf-8").alias("text"))
               .groupBy("domain")
               .agg(F.count("*").cast("long").alias("n"),
                    F.min("doc_id").alias("min_id"),
                    F.max("doc_id").alias("max_id"),
                    F.sum(F.length("text")).cast("long")
                    .alias("chars"))
               .orderBy("domain")
               .localCheckpoint())
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _demo_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (round 13, functions/html.py): each doc
    wraps itself in an HTML page (head + title + script junk + two
    body paragraphs), then html_to_text/html_title recover the visible
    content. Docs are pre-filtered to markup-free text (no <>&, tabs,
    newlines, double spaces, edge spaces) so the extracted value is an
    exact string expression over the relational columns — the oracle
    rebuilds it with concatenation, no regexp replay needed. r14 leg:
    the tail paragraph carries NUMERIC character references (decimal
    + hex, doc_id-derived code points) that html_to_text now decodes
    (functions/html.py::html_decode_numeric_refs) and the oracle
    replays with chr()."""
    from datasketches_spark_spark.functions import (html_title,
                                                    html_to_text)
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 400) \
        .where(~F.col("text").rlike("[<>&\t\n\r]")
               & ~F.col("text").contains("  ")
               & (F.col("text") == F.trim(F.col("text"))))
    dec_ref = F.concat(F.lit("&#"),
                       (F.col("doc_id") % 26 + 65).cast("int")
                       .cast("string"), F.lit(";"))
    hex_ref = F.concat(F.lit("&#x"),
                       F.lower(F.hex((F.col("doc_id") % 2 + 0x2018)
                                     .cast("int"))), F.lit(";"))
    html = F.concat(
        F.lit("<html><head><title>T"), F.col("doc_id"),
        F.lit("</title><script>junk('<p>no</p>')</script></head>"
              "<body><!-- c --><p>"), F.col("text"),
        F.lit("</p><p>tail "), dec_ref, hex_ref, F.lit(" "),
        F.col("doc_id"),
        F.lit("</p></body></html>"))
    return (docs.select(
        "doc_id",
        html_title(html).alias("title"),
        html_to_text(html).alias("text_out"))
        .orderBy("doc_id"))


def _demo_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC SINK roundtrip (round 14, operators/warc.py::write_warc):
    the corpus exports itself through the PUBLIC sink (one gzip member
    per record, deterministic ids/dates) and ``read_warc`` ingests the
    shards back — ids, domains and text bytes survive, so the oracle
    recomputes every value from the documents table (the
    demo_warc_ingest pattern, now through the production write path)."""
    import shutil
    import tempfile

    from datasketches_spark_spark.operators import read_warc, write_warc
    from datasketches_spark_spark.functions.urls import (
        url_registered_domain)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 300)
            .select(
                F.concat(F.lit("https://h"), F.col("doc_id") % 10,
                         F.lit(".example"), F.col("doc_id") % 3,
                         F.lit(".com/p/"), F.col("doc_id"))
                .alias("target_uri"),
                F.col("text").alias("payload"))
            .repartition(2))
    d = tempfile.mkdtemp(prefix="dss_warc_sink_demo_")
    try:
        manifest = write_warc(docs, d)
        assert sum(m.n_records for m in manifest) > 0
        out = (read_warc(spark, d, types=("conversion",))
               .select(
                   F.regexp_extract("target_uri", r"/p/(\d+)$", 1)
                   .cast("long").alias("doc_id"),
                   url_registered_domain("target_uri").alias("domain"),
                   F.decode("payload", "utf-8").alias("text"))
               .groupBy("domain")
               .agg(F.count("*").cast("long").alias("n"),
                    F.min("doc_id").alias("min_id"),
                    F.max("doc_id").alias("max_id"),
                    F.sum(F.length("text")).cast("long").alias("chars"))
               .orderBy("domain")
               .localCheckpoint())
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _demo_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt URL filtering (round 14, functions/robots.py): ten
    synthetic hosts carry deterministic robots files (even hosts:
    ``Allow: /p`` + ``Disallow: /`` — the RFC 9309 longest-match +
    Allow-tie case; odd hosts: ``Disallow: /private/``), the corpus
    derives one URL per doc, and ``parse_robots -> robots_allowed``
    produces per-host allow/block counts. Rules are wildcard-free, so
    every verdict is a prefix predicate the oracle recomputes
    relationally from doc_id alone."""
    from datasketches_spark_spark.functions import (parse_robots,
                                                    robots_allowed)
    hosts = spark.range(10).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.com"))
        .alias("host"),
        F.when(F.col("id") % 2 == 0,
               F.lit("User-agent: *\nAllow: /p\nDisallow: /\n"))
        .otherwise(F.lit("User-agent: *\nDisallow: /private/\n"))
        .alias("text"))
    rules = parse_robots(hosts, "host", "text")
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 500).select("doc_id")
    m = F.col("doc_id") % 3
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 10), F.lit(".example.com"),
        F.when(m == 0, F.concat(F.lit("/p/"), F.col("doc_id")))
        .when(m == 1, F.concat(F.lit("/private/x"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/q"), F.col("doc_id"))))
    urls = docs.select("doc_id", url.alias("url"))
    out = robots_allowed(urls, rules)
    return (out.groupBy(
                F.regexp_extract("url", r"https://([^/]*)", 1)
                .alias("host"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(F.col("allowed").cast("long")).cast("long")
                 .alias("n_allowed"))
            .orderBy("host"))


def _demo_jpeg_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic-coded JPEG decode (round 14, operators/jpegarith.py):
    the committed SOF9 fixtures (encoded once with the system libjpeg's
    QM-coder, frozen in tests/data/) decode inside an Arrow mapInPandas
    pass to (name, h, w, px_md5). The T.81 QM decode is exactly
    specified and the engine IDCT is deterministic, so the oracle pins
    the decoded-pixel md5s as literals (the demo_webp_lossy pattern);
    entropy exactness vs jpeg_read_coefficients is separately pinned by
    tests/test_jpeg_arith.py."""
    import hashlib
    import os

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    data_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "tests", "data")
    rows = []
    for name in ("arith_color_grad_q85.jpg",
                 "arith_color_noise_q60_rst2.jpg",
                 "arith_gray_noise_q95.jpg",
                 "arith_gray_photo_q90_rst3.jpg",
                 "arith_prog_color_q80.jpg",
                 "arith_prog_gray_q88.jpg"):
        with open(os.path.join(data_dir, name), "rb") as fh:
            rows.append((name, bytearray(fh.read())))
    df = spark.createDataFrame(rows, "name string, payload binary") \
        .repartition(2)
    schema = StructType([
        StructField("name", StringType()),
        StructField("h", LongType()),
        StructField("w", LongType()),
        StructField("px_md5", StringType()),
    ])

    def run(batches):
        from datasketches_spark_spark.operators import decode_image
        for pdf in batches:
            out = []
            for name, payload in zip(pdf["name"], pdf["payload"]):
                img = decode_image(bytes(payload))
                out.append((name, img.shape[0], img.shape[1],
                            hashlib.md5(img.tobytes()).hexdigest()))
            yield pd.DataFrame(out, columns=["name", "h", "w", "px_md5"])

    return df.mapInPandas(run, schema).orderBy("name")


def _demo_http_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded HTTP response bodies decode end-to-end (r14, extended
    r15 — functions/http.py): docs re-frame as WARC *response* records
    across FOUR encoding legs by doc_id % 4 — (0) gzip-compressed AND
    chunk-framed, (1) brotli (``Content-Encoding: br`` via the system
    libbrotlidec, r15), (2) brotli + a UTF-16LE body carrying a BOM
    while the header falsely claims iso-8859-1 (the BOM must win —
    WHATWG sniffing order, r15), (3) zstd (RFC 8878, via the system
    libzstd, r15). Then ``read_warc -> http_decode_body ->
    html_to_text`` recovers the identical visible text on every
    leg. The ``guarded`` column pins the companion fix: the
    as-captured ``http_body`` slice is null (loud) on encoded
    messages, never silent framing garbage. Docs are pre-filtered
    markup-free so the oracle is concatenation."""
    import gzip
    import os
    import shutil
    import tempfile

    import pandas as pd
    from datasketches_spark_spark.functions import (http_body,
                                                    http_decode_body,
                                                    html_to_text)
    from datasketches_spark_spark.functions.http import http_text
    from datasketches_spark_spark.operators import read_warc
    from datasketches_spark_spark.operators.brotlinative import \
        brotli_encode
    from datasketches_spark_spark.operators.zstdnative import zstd_encode

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 300)
            .where(~F.col("text").rlike("[<>&\t\n\r]")
                   & ~F.col("text").contains("  ")
                   & (F.col("text") == F.trim(F.col("text"))))
            .select("doc_id", "text").repartition(2))

    def _chunked(b: bytes, size: int = 37) -> bytes:
        out = [b"%x\r\n%s\r\n" % (len(b[i:i + size]), b[i:i + size])
               for i in range(0, len(b), size)]
        return b"".join(out) + b"0\r\n\r\n"

    def _mk_warc(pdf_iter):
        for pdf in pdf_iter:
            recs = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                html = (f"<html><head><title>T{int(did)}</title></head>"
                        f"<body><p>{text}</p><p>end {int(did)}</p>"
                        "</body></html>")
                leg = int(did) % 4
                if leg == 0:
                    body = _chunked(gzip.compress(html.encode("utf-8")))
                    msg = (b"HTTP/1.1 200 OK\r\n"
                           b"Content-Type: text/html; charset=utf-8\r\n"
                           b"Transfer-Encoding: chunked\r\n"
                           b"Content-Encoding: gzip\r\n\r\n" + body)
                elif leg == 1:
                    body = brotli_encode(html.encode("utf-8"))
                    msg = (b"HTTP/1.1 200 OK\r\n"
                           b"Content-Type: text/html; charset=utf-8\r\n"
                           b"Content-Encoding: br\r\n\r\n" + body)
                elif leg == 2:
                    # BOM > header: UTF-16LE body, header lies
                    body = brotli_encode(
                        b"\xff\xfe" + html.encode("utf-16-le"))
                    msg = (b"HTTP/1.1 200 OK\r\n"
                           b"Content-Type: text/html; "
                           b"charset=iso-8859-1\r\n"
                           b"Content-Encoding: br\r\n\r\n" + body)
                else:
                    body = zstd_encode(html.encode("utf-8"))
                    msg = (b"HTTP/1.1 200 OK\r\n"
                           b"Content-Type: text/html; charset=utf-8\r\n"
                           b"Content-Encoding: zstd\r\n\r\n" + body)
                head = (
                    "WARC/1.0\r\n"
                    "WARC-Type: response\r\n"
                    f"WARC-Target-URI: <https://h{int(did) % 10}"
                    f".example{int(did) % 3}.com/p/{int(did)}>\r\n"
                    "WARC-Date: 2026-08-15T00:00:00Z\r\n"
                    f"WARC-Record-ID: <urn:uuid:{int(did)}>\r\n"
                    "Content-Type: application/http; "
                    "msgtype=response\r\n"
                    f"Content-Length: {len(msg)}\r\n\r\n").encode()
                recs.append(gzip.compress(head + msg + b"\r\n\r\n"))
            yield pd.DataFrame({"blob": [b"".join(recs)]})

    files = docs.mapInPandas(_mk_warc, "blob binary").collect()
    d = tempfile.mkdtemp(prefix="dss_httpdec_demo_")
    try:
        for i, row in enumerate(files):
            with open(os.path.join(d, f"part{i}.warc.gz"), "wb") as fh:
                fh.write(bytes(row.blob))
        from datasketches_spark_spark.functions.http import http_header
        out = (read_warc(spark, d, types=("response",))
               .select(
                   F.regexp_extract("record_id", r"(\d+)$", 1)
                   .cast("long").alias("doc_id"),
                   html_to_text(http_decode_body("payload"))
                   .alias("text_out"),
                   http_header(http_text("payload"), "Content-Encoding")
                   .alias("enc"),
                   http_body(http_text("payload")).isNull()
                   .alias("guarded"))
               .orderBy("doc_id")
               .localCheckpoint())
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _demo_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured sitemap parsing (r15, functions/urls.py): documents
    rows become ``<url>`` entries of five per-site ``<urlset>``
    sitemaps (loc carries an entity-escaped query, lastmod a derived
    date); sites 0-1 ship GZIPPED (``sitemap_text`` inflates them),
    sites 2-4 plain; one ``<sitemapindex>`` lists the five sitemaps.
    ``sitemap_entries`` explodes every document to (loc, lastmod,
    is_index) — DuckDB recomputes the whole frontier table
    relationally from the same documents columns."""
    from datasketches_spark_spark.functions import (sitemap_entries,
                                                    sitemap_text)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .select("doc_id", (F.col("doc_id") % 5).alias("g")))
    entry = F.concat(
        F.lit("<url><loc>https://site"), F.col("g"),
        F.lit(".example.com/d/"), F.col("doc_id"),
        F.lit("?a=1&amp;b=2</loc><lastmod>2025-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod></url>"))
    maps = (docs.groupBy("g")
            .agg(F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(F.array_sort(F.collect_list(entry)), ""),
                F.lit("</urlset>")).alias("xml")))

    def _gz(pdf_iter):
        import gzip as _g

        import pandas as pd
        for pdf in pdf_iter:
            yield pd.DataFrame({
                "g": pdf["g"],
                "payload": [_g.compress(x.encode("utf-8"), 6, mtime=0)
                            if g < 2 else x.encode("utf-8")
                            for g, x in zip(pdf["g"], pdf["xml"])]})

    # sitemap_text is a Python UDF: materialize its column in its own
    # projection first — Spark cannot reference a UDF result inside a
    # higher-order-function lambda (sitemap_entries' transform)
    payloads = (maps.mapInPandas(_gz, "g int, payload binary")
                .select(sitemap_text("payload").alias("xml_text")))
    site_entries = payloads.select(
        F.explode(sitemap_entries("xml_text")).alias("e"))

    idx_xml = ("<sitemapindex>" + "".join(
        f"<sitemap><loc>https://site{g}.example.com/sitemap.xml"
        f"{'.gz' if g < 2 else ''}</loc>"
        f"<lastmod>2025-02-0{g + 1}</lastmod></sitemap>"
        for g in range(5)) + "</sitemapindex>")
    idx = spark.createDataFrame([(idx_xml,)], "x string").select(
        F.explode(sitemap_entries("x")).alias("e"))

    return (site_entries.unionByName(idx)
            .select("e.loc", "e.lastmod", "e.is_index")
            .orderBy("loc"))


def _demo_link_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph frontier expansion (r15, functions/html.py +
    functions/urls.py): documents become HTML pages whose anchors mix
    absolute-path, relative-with-query (entity-escaped ``&amp;``),
    dot-segment, and javascript: hrefs; ``html_links -> url_resolve ->
    url_surt_key`` must produce exactly the frontier DuckDB recomputes
    relationally (three navigational links per doc, the script link
    filtered)."""
    from datasketches_spark_spark.functions import (html_links,
                                                    url_resolve,
                                                    url_surt_key)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .select("doc_id", (F.col("doc_id") % 3).alias("g")))
    base = F.concat(F.lit("https://site"), F.col("g"),
                    F.lit(".example.com/dir/page"), F.col("doc_id"),
                    F.lit(".html"))
    html = F.concat(
        F.lit('<html><body><a href="/d/'), F.col("doc_id"),
        F.lit('">x</a> <a href=\'sub/'), F.col("doc_id") % 7,
        F.lit("?b=2&amp;a=1'>y</a> <a href=../up/"),
        F.col("doc_id") % 5,
        F.lit('>z</a> <a href="javascript:void(0)">n</a>'
              "</body></html>"))
    pages = docs.select("doc_id", base.alias("base"),
                        html.alias("html"))
    return (pages
            .select("doc_id", "base",
                    F.posexplode(html_links("html"))
                    .alias("pos", "link"))
            .select("doc_id", "pos",
                    url_resolve("base", "link").alias("url"))
            .withColumn("urlkey", url_surt_key("url"))
            .orderBy("doc_id", "pos"))


def _demo_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware fetch planning (r15, operators/frontier.py +
    functions/robots.py): a 500-URL frontier over 10 hosts, where even
    hosts declare ``Crawl-delay: <n+1>`` in planted robots texts
    (lifted by ``robots_crawl_delay``) and odd hosts fall back to the
    1 s default. ``schedule_fetches`` assigns each URL its per-host
    queue position and earliest polite start; DuckDB replays the
    window (row_number per host ordered by url) and the delay CASE
    relationally."""
    from datasketches_spark_spark.functions import robots_crawl_delay
    from datasketches_spark_spark.operators import schedule_fetches

    frontier = (read_table(spark, sf_dir, "documents")
                .where(F.col("doc_id") < 500)
                .select(F.concat(
                    F.lit("https://h"), F.col("doc_id") % 10,
                    F.lit(".example.com/d/"), F.col("doc_id"))
                    .alias("url")))
    robots = spark.range(10).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.com"))
        .alias("host"),
        F.when(F.col("id") % 2 == 0,
               F.concat(F.lit("User-agent: *\nCrawl-delay: "),
                        F.col("id") + 1, F.lit("\nDisallow: /x\n")))
        .otherwise(F.lit("User-agent: *\nDisallow: /x\n"))
        .alias("text"))
    delays = robots_crawl_delay(robots, "host", "text")
    return (schedule_fetches(frontier, delays, default_delay=1.0)
            .orderBy("host", "seq"))


def _demo_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot diffing (r15, operators/warc.py::cc_index_diff):
    two synthetic cc-index snapshots over documents — the old one with
    a SECOND stale capture for every 10th key (latest-wins must reduce
    it away), the new one shifted by 100 keys with every 3rd digest
    unchanged — classify added/removed/changed/unchanged; DuckDB
    recomputes the whole table with a relational FULL OUTER JOIN."""
    from datasketches_spark_spark.operators import cc_index_diff

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 500).select("doc_id"))
    key = F.concat(F.lit("com,site)/d/"), F.col("doc_id"))
    old = (docs.where(F.col("doc_id") < 400)
           .select(key.alias("urlkey"),
                   F.concat(F.lit("d"), F.col("doc_id") % 50)
                   .alias("digest"),
                   F.lit("20250101000000").alias("timestamp")))
    stale = (docs.where((F.col("doc_id") < 400)
                        & (F.col("doc_id") % 10 == 0))
             .select(key.alias("urlkey"),
                     F.concat(F.lit("stale"), F.col("doc_id"))
                     .alias("digest"),
                     F.lit("20240101000000").alias("timestamp")))
    new = (docs.where(F.col("doc_id") >= 100)
           .select(key.alias("urlkey"),
                   F.when(F.col("doc_id") % 3 == 0,
                          F.concat(F.lit("d"), F.col("doc_id") % 50))
                   .otherwise(F.concat(F.lit("x"), F.col("doc_id")))
                   .alias("digest"),
                   F.lit("20250601000000").alias("timestamp")))
    return (cc_index_diff(old.unionByName(stale), new)
            .orderBy("urlkey"))


def _demo_audio_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-container audio content identity (r17 + r18,
    operators/audiocodec.py::audio_content_hash): leg 'pcm' packages
    the SAME PCM tone (keyed by doc_id % 3) four ways per content
    group — plain WAV, WAV with an injected LIST/INFO metadata chunk,
    FLAC, and FLAC with a per-doc VORBIS_COMMENT tag block — and
    every copy must collapse to ONE hash (WAV hashes its raw ``data``
    chunk and FLAC carries the spec's STREAMINFO raw-samples MD5 —
    the same bytes for the same PCM). Leg 'aac' (r18) does the same
    for COMPRESSED audio: one AAC encode per content group packaged
    as bare ADTS, ID3v2+ID3v1-dressed ADTS, an MP4 ``mp4a`` track
    (operators/mp4codec.py — the stbl-addressed sample bytes ARE the
    ADTS raw_data_block payloads), and an MP4 with udta tags + co64
    + multi-sample chunks + moov-after-mdat layout — the ``.aac`` ↔
    ``.m4a`` collapse with NO decode. Leg 'opus' (r18,
    operators/mkvcodec.py) crosses the Ogg ↔ Matroska/WebM container
    pair: one Opus packet sequence packaged as bare Ogg, re-tagged
    Ogg (OpusTags varied), bare WebM, and re-tagged + Xiph-laced +
    re-clustered WebM — MKV block payloads ARE the codec packets
    (headers live in CodecPrivate), so all four collapse to ONE hash
    (the ``.opus`` ↔ ``.webm`` collapse). n_species == 4 pins that
    all four packagings per leg really collapsed; DuckDB recomputes
    group sizes and species counts relationally."""
    import struct as _st
    import numpy as np
    import pandas as pd
    from datasketches_spark_spark.operators import (
        audio_content_hash, encode_wav)
    from datasketches_spark_spark.operators.aaccodec import (
        aac_frame_payloads, build_adts_stream)
    from datasketches_spark_spark.operators.flaccodec import encode_flac
    from datasketches_spark_spark.operators.mkvcodec import build_mkv
    from datasketches_spark_spark.operators.mp4codec import build_mp4
    from datasketches_spark_spark.operators.oggcodec import (
        build_ogg_stream, ogg_audio_packets)

    def _mk(pdf_iter):
        tones = {g: np.sin(np.linspace(0, 30 + 10 * g, 1500))
                 for g in range(3)}
        payloads = {g: aac_frame_payloads(
            build_adts_stream(b"grp%d" % g, 7)) for g in range(3)}
        opus = {g: ogg_audio_packets(
            build_ogg_stream(b"opus%d" % g, 6)) for g in range(3)}
        for pdf in pdf_iter:
            legs, ids, hs = [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                t = tones[did % 3]
                sp = did % 4
                if sp == 0:
                    b = encode_wav(t, 8000)
                elif sp == 1:
                    w = encode_wav(t, 8000)
                    lst = (b"LIST" + _st.pack("<I", 12) + b"INFOIART"
                           + _st.pack("<I", 0))
                    b = w[:12] + lst + w[12:]
                    b = (b[:4] + _st.pack("<I", len(b) - 8) + b[8:])
                elif sp == 2:
                    b = encode_flac(t, 8000)
                else:
                    b = encode_flac(t, 8000,
                                    tags={"title": "doc %d" % did})
                legs.append("pcm")
                ids.append(did)
                hs.append(audio_content_hash(b))
                pls = payloads[did % 3]
                if sp == 0:
                    a = build_adts_stream(b"", 0, payloads=pls)
                elif sp == 1:
                    a = (b"ID3\x04\x00\x00\x00\x00\x00\x20"
                         + b"\x00" * 32
                         + build_adts_stream(b"", 0, payloads=pls)
                         + b"TAG" + b"\x00" * 125)
                elif sp == 2:
                    a = build_mp4(audio_payloads=pls)
                else:
                    a = build_mp4(audio_payloads=pls,
                                  tags=b"title=doc %d" % did,
                                  moov_first=False, co64=True,
                                  per_chunk=3)
                legs.append("aac")
                ids.append(did)
                hs.append(audio_content_hash(a))
                pk = opus[did % 3]
                if sp == 0:
                    o = build_ogg_stream(b"opus%d" % (did % 3), 6)
                elif sp == 1:
                    o = build_ogg_stream(b"opus%d" % (did % 3), 6,
                                         tags=b"T=%d" % did)
                elif sp == 2:
                    o = build_mkv(audio_payloads=pk)
                else:
                    o = build_mkv(audio_payloads=pk,
                                  tags=b"doc %d" % did,
                                  lacing="xiph", per_cluster=2)
                legs.append("opus")
                ids.append(did)
                hs.append(audio_content_hash(o))
            yield pd.DataFrame({"leg": legs, "doc_id": ids, "h": hs})

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 180).select("doc_id")
            .repartition(4))
    hashed = docs.mapInPandas(_mk, "leg string, doc_id long, h string")
    return (hashed.groupBy("leg", "h")
            .agg(F.count("*").alias("n"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id"),
                 F.countDistinct(F.col("doc_id") % 4)
                 .alias("n_species"))
            .select("leg", "n", "min_id", "max_id", "n_species")
            .orderBy("leg", "min_id"))


def _demo_mp3_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-audio tag-invariant dedup (r17,
    operators/mp3codec.py::mp3_audio_hash +
    operators/oggcodec.py::ogg_audio_hash): re-TAGGED copies of one
    stream — the dominant crawl duplication mode for audio — collapse
    with NO sample decode (none exists on this image; see
    mp3native.py). Leg 'mp3': structurally valid Layer III frame
    chains keyed by doc_id % 3 (the content identity) while doc_id %
    4 picks the tag dressing — bare / ID3v2 with doc-specific payload
    / ID3v2 + ID3v1 / Xing metadata frame + ID3v1. Leg 'ogg': the
    same content groups as RFC 3533 Opus streams (CRC-validated page
    walk, packet reassembly across a 255-lacing boundary) where the
    tag shape varies the OpusTags comment packet. Leg 'aac' (r18,
    operators/aaccodec.py): the same groups as ADTS AAC frame chains
    where the dressing varies bare / ID3v2 / ID3v2+ID3v1 /
    CRC-protected headers + a trailing APEv2 tag (the 9-byte header
    form and the r18 trailing-tag tolerance both excluded from the
    hash). Leg 'mkv' (r18, operators/mkvcodec.py): the same content
    groups as Opus-in-WebM where the dressing varies the CONTAINER
    LAYOUT itself — bare / Tags element / Xiph lacing + re-clustered
    / EBML lacing + Void padding + matroska DocType — all reassembled
    by the EBML block walk to the same packet bytes. Each leg's hash
    must collapse every content group across all four tag shapes
    (n_tagshapes == 4 pins exactly that); DuckDB recomputes group
    sizes and tag-shape counts relationally."""
    import hashlib as _hl
    import pandas as pd
    from datasketches_spark_spark.operators.aaccodec import (
        aac_audio_hash, build_adts_stream)
    from datasketches_spark_spark.operators.mkvcodec import (
        build_mkv, mkv_audio_hash)
    from datasketches_spark_spark.operators.mp3codec import (
        build_frame_stream, mp3_audio_hash)
    from datasketches_spark_spark.operators.oggcodec import (
        build_ogg_stream, ogg_audio_hash, ogg_audio_packets)

    def _mk(pdf_iter):
        opus = {g: ogg_audio_packets(
            build_ogg_stream(b"mk%d" % g, 6)) for g in range(3)}
        for pdf in pdf_iter:
            legs, ids, hs = [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                shape = did % 4
                a = build_adts_stream(b"grp%d" % (did % 3), 6,
                                      crc=(shape == 3))
                if shape in (1, 2):
                    pay = _hl.md5(b"atag%d" % did).digest()
                    a = (b"ID3\x04\x00\x00\x00\x00\x00\x20"
                         + (pay * 2)[:32] + a)
                if shape == 2:
                    a = a + b"TAG" + _hl.md5(
                        b"av1%d" % did).digest()[:1] * 125
                if shape == 3:
                    a = a + b"APETAGEX" + _hl.md5(
                        b"ape%d" % did).digest() * 8
                legs.append("aac")
                ids.append(did)
                hs.append(aac_audio_hash(a))
                s = build_frame_stream(b"grp%d" % (did % 3), 8,
                                       xing=(shape == 3))
                if shape in (1, 2):
                    pay = _hl.md5(b"tag%d" % did).digest()
                    s = (b"ID3\x04\x00\x00\x00\x00\x00\x20"
                         + (pay * 2)[:32] + s)
                if shape in (2, 3):
                    s = s + b"TAG" + _hl.md5(
                        b"v1%d" % did).digest()[:1] * 125
                legs.append("mp3")
                ids.append(did)
                hs.append(mp3_audio_hash(s))
                o = build_ogg_stream(
                    b"grp%d" % (did % 3), 6,
                    tags=b"" if shape == 0
                    else b"comment=%d" % (did * 7 + shape))
                legs.append("ogg")
                ids.append(did)
                hs.append(ogg_audio_hash(o))
                pk = opus[did % 3]
                if shape == 0:
                    m = build_mkv(audio_payloads=pk)
                elif shape == 1:
                    m = build_mkv(audio_payloads=pk,
                                  tags=b"TITLE=doc %d" % did)
                elif shape == 2:
                    m = build_mkv(audio_payloads=pk, lacing="xiph",
                                  per_cluster=2)
                else:
                    m = build_mkv(audio_payloads=pk, lacing="ebml",
                                  void_pad=11 + did % 7,
                                  doctype="matroska")
                legs.append("mkv")
                ids.append(did)
                hs.append(mkv_audio_hash(m))
            yield pd.DataFrame({"leg": legs, "doc_id": ids, "h": hs})

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 180).select("doc_id")
            .repartition(4))
    hashed = docs.mapInPandas(_mk, "leg string, doc_id long, h string")
    return (hashed.groupBy("leg", "h")
            .agg(F.count("*").alias("n"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id"),
                 F.countDistinct(F.col("doc_id") % 4)
                 .alias("n_tagshapes"))
            .select("leg", "n", "min_id", "max_id", "n_tagshapes")
            .orderBy("leg", "min_id"))


def _demo_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection (r15, operators/audiofp.py): docs
    synthesize WAV clips from FOUR deterministic melodies (doc_id % 4)
    at per-doc amplitudes; the Haitsma-Kalker fingerprint must place
    every clip ABOVE the similarity threshold against its own
    melody's reference and BELOW it against the next melody's —
    booleans DuckDB states by construction (the separation margins
    are pinned numerically in tests/test_audiofp.py)."""
    import numpy as np
    import pandas as pd
    from datasketches_spark_spark.operators import (audio_fingerprint,
                                                    audio_fp_similarity)
    from datasketches_spark_spark.operators.audiocodec import encode_wav
    from datasketches_spark_spark.operators.audiofp import \
        audio_fingerprint_bytes

    rate = 8000

    def _melody(seed: int, amp: float) -> np.ndarray:
        rng = np.random.default_rng(seed)
        notes = rng.choice([262, 294, 330, 349, 392, 440, 494, 523,
                            587, 659, 740, 831], size=10)
        seg = rate // 10
        t = np.arange(seg) / rate
        parts = []
        for f in notes:
            att = np.minimum(1.0, np.arange(seg) / (0.01 * rate))
            dec = np.exp(-3.0 * np.arange(seg) / seg)
            parts.append(np.sin(2 * np.pi * f * t) * att * dec)
        x = np.concatenate(parts)
        return amp * x / np.max(np.abs(x))

    def _mk(pdf_iter):
        for pdf in pdf_iter:
            ids, wavs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                amp = (did % 5 + 2) / 7
                ids.append(did)
                wavs.append(encode_wav(_melody(did % 4, amp), rate))
            yield pd.DataFrame({"doc_id": ids, "wav": wavs})

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 240).select("doc_id")
            .repartition(4))
    clips = docs.mapInPandas(_mk, "doc_id long, wav binary")
    # reference fingerprints: four driver-computed literals
    reps = [audio_fingerprint_bytes(encode_wav(_melody(g, 0.9), rate))
            for g in range(4)]
    grp = F.col("doc_id") % 4
    same_ref = F.when(grp == 0, F.lit(reps[0])) \
        .when(grp == 1, F.lit(reps[1])) \
        .when(grp == 2, F.lit(reps[2])).otherwise(F.lit(reps[3]))
    other_ref = F.when(grp == 0, F.lit(reps[1])) \
        .when(grp == 1, F.lit(reps[2])) \
        .when(grp == 2, F.lit(reps[3])).otherwise(F.lit(reps[0]))
    fp = clips.select("doc_id",
                      audio_fingerprint("wav").alias("fp"),
                      same_ref.alias("same_ref"),
                      other_ref.alias("other_ref"))
    return (fp.select(
        "doc_id",
        (audio_fp_similarity("fp", "same_ref") > 0.72)
        .alias("same_group"),
        (audio_fp_similarity("fp", "other_ref") > 0.72)
        .alias("cross_group"))
        .orderBy("doc_id"))


def _demo_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup via frame-pHash sequences (r15 + r17 + r18,
    operators/multimodal.py::video_phash_signature): docs synthesize
    footage keyed by doc_id % 3 in SIX containers keyed by
    (doc_id // 3) % 6 — Motion-JPEG AVI (fps AND JPEG quality 35..90
    varied per doc so frame BYTES genuinely differ within a group),
    raw Annex B H.264 I_PCM keyframe streams (r17,
    operators/h264codec.py; chroma plane varied as the re-encode
    stand-in), H.264-in-MP4 (r18, operators/mp4codec.py — the demux →
    Annex B → decode chain, with udta tags / chunking / co64 /
    moov-placement / FRAGMENTED moof/trun DASH segmenting varied per
    doc so container BYTES and even the sample-addressing scheme
    differ), HEVC-in-MP4 (r18, operators/hevcnative.py — REAL
    x265-encoded streams decoded by the system libde265, quality
    varied as the re-encode stand-in, footage carried at 4x
    resolution as a re-scale stand-in — average-hash is
    resolution-invariant for scaled patterns), H.264-in-Matroska
    (r18, operators/mkvcodec.py — the EBML block walk → CodecPrivate
    avcC → Annex B chain, with Tags / cluster splits / Void padding /
    DocType varied per doc), and VP8-in-WebM (r18 — REAL
    system-libwebp VP8 keyframe encodes carried as WebM blocks and
    decoded by rewrapping each frame as a one-chunk WebP, encode
    quality varied as the re-encode stand-in). The signature must
    collapse each footage group to ONE hash sequence ACROSS all six
    containers — n_containers == 6 pins that the lossy-JPEG,
    exact-H.264, MP4-demux, lossy-HEVC, MKV-demux and lossy-VP8
    decode paths land on the same pHash — and DuckDB recomputes
    group sizes + container counts relationally."""
    import numpy as np
    import pandas as pd
    from datasketches_spark_spark.operators import video_phash_signature
    from datasketches_spark_spark.operators.avicodec import \
        encode_avi_mjpeg

    def _frames(g: int, scale: int = 1):
        # structurally DISTINCT footage per group (a moving bright
        # band: horizontal / vertical / diagonal) — average_hash
        # collapses same-shape gradients, so shape is the identity
        out = []
        for k in range(6):
            img = np.full((16, 32), 40, np.uint8)
            pos = 2 * k
            if g == 0:
                img[(pos % 12):(pos % 12) + 4, :] = 220
            elif g == 1:
                img[:, (pos % 24):(pos % 24) + 8] = 220
            else:
                # coarse moving quadrant (thin diagonals sit on the
                # hash threshold and flip with JPEG quality)
                r0 = 8 * (k % 2)
                c0 = 8 * (k % 3)
                img[r0:r0 + 8, c0:c0 + 16] = 220
            if scale > 1:
                # nearest-neighbor upscale: identical block means, so
                # the same pHash — and CTU-aligned dims for x265
                img = np.kron(img, np.ones((scale, scale), np.uint8))
            out.append(img)
        return out

    def _mk(pdf_iter):
        from datasketches_spark_spark.operators.h264codec import (
            encode_h264_ipcm)
        from datasketches_spark_spark.operators.hevcnative import (
            hevc_encode_keyframes)
        from datasketches_spark_spark.operators.mkvcodec import (
            annexb_to_mkv_track, build_mkv, webp_vp8_payload)
        from datasketches_spark_spark.operators.mp4codec import (
            build_mp4)
        from datasketches_spark_spark.operators.webpnative import (
            webp_encode_rgb)
        for pdf in pdf_iter:
            ids, vids = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                ids.append(did)
                container = (did // 3) % 6
                if container == 0:
                    vids.append(encode_avi_mjpeg(
                        _frames(did % 3), fps=5 + did % 4,
                        quality=(35, 50, 75, 90)[did % 4]))
                elif container == 1:
                    vids.append(encode_h264_ipcm(
                        _frames(did % 3), chroma=64 + did % 64))
                elif container == 2:
                    vids.append(build_mp4(
                        video_annexb=encode_h264_ipcm(
                            _frames(did % 3), chroma=64 + did % 64),
                        tags=b"" if did % 2 else b"doc %d" % did,
                        per_chunk=1 + did % 3,
                        moov_first=bool(did % 2),
                        co64=(did % 4 == 0),
                        fragmented=(did % 5 == 0)))
                elif container == 3:
                    rgb = [np.repeat(f[:, :, None], 3, axis=2)
                           for f in _frames(did % 3, scale=4)]
                    vids.append(build_mp4(
                        video_annexb=hevc_encode_keyframes(
                            rgb, quality=(60, 75, 90, 85)[did % 4]),
                        video_dims=(128, 64)))
                elif container == 4:
                    cid, priv, blocks = annexb_to_mkv_track(
                        encode_h264_ipcm(_frames(did % 3),
                                         chroma=64 + did % 64))
                    vids.append(build_mkv(
                        video_frames=blocks, video_codec=cid,
                        video_private=priv, video_dims=(32, 16),
                        tags=b"" if did % 2 else b"doc %d" % did,
                        per_cluster=1 + did % 3,
                        void_pad=(did % 4) * 5,
                        doctype="matroska" if did % 2 else "webm"))
                else:
                    frames = [webp_vp8_payload(webp_encode_rgb(
                        np.repeat(f[:, :, None], 3, axis=2),
                        quality=(65.0, 75.0, 85.0, 90.0)[did % 4]))
                        for f in _frames(did % 3)]
                    vids.append(build_mkv(video_frames=frames,
                                          video_dims=(32, 16)))
            yield pd.DataFrame({"doc_id": ids, "avi": vids})

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 180).select("doc_id")
            .repartition(4))
    vids = docs.mapInPandas(_mk, "doc_id long, avi binary")
    sig = video_phash_signature(vids, "doc_id", num_frames=4,
                                payload_col="avi")
    return (sig.withColumn("container", (F.col("doc_id") / 3)
                           .cast("long") % 6)
            .groupBy(F.concat_ws("|", "phash_seq").alias("sig"))
            .agg(F.count("*").alias("n"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id"),
                 F.countDistinct("container").alias("n_containers"))
            .select("n", "min_id", "max_id", "n_containers")
            .orderBy("min_id"))


def _demo_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction (r15,
    functions/html.py::html_main_text): each markup-free doc becomes a
    full page — a link-saturated nav block (LONG enough to pass the
    length floor, so density is what kills it), the doc text as the
    lead paragraph (kept iff >= 80 chars — the length rule), a fixed
    closing paragraph with one inline link (always kept — inline links
    under the density cap survive), and a short footer (killed by
    length alone). Every block's visible text is an exact string
    expression over relational columns, so DuckDB rebuilds the
    expected main text with concatenation + one length CASE — no
    regexp replay. n_blocks pins the segmentation itself."""
    from datasketches_spark_spark.functions import (html_blocks,
                                                    html_main_text)
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 400) \
        .where(~F.col("text").rlike("[<>&\t\n\r]")
               & ~F.col("text").contains("  ")
               & (F.col("text") == F.trim(F.col("text")))
               & (F.length("text") >= 1))
    page = F.concat(
        F.lit("<html><head><title>d</title>"
              "<script>nav('<p>junk</p>')</script></head><body>"
              "<div><a href='/n1'>Home page navigation link text for "
              "document "), F.col("doc_id"),
        F.lit("</a> | <a href='/n2'>Second navigation menu entry link "
              "text here</a></div><p>"), F.col("text"),
        F.lit("</p><p>Closing paragraph for document "),
        F.col("doc_id"),
        F.lit(" keeps one inline <a href='/r'>reference link</a> and "
              "enough surrounding prose to stay well under the density "
              "cap.</p><div>footer "), F.col("doc_id"),
        F.lit("</div></body></html>"))
    return (docs.select(
        "doc_id",
        html_main_text(page).alias("main"),
        F.size(html_blocks(page)).alias("n_blocks"))
        .orderBy("doc_id"))


def _demo_mime_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content sniffing as the crawl-chain router (r15,
    functions/mime.py::detect_mime): docs rotate through FOURTEEN
    payload constructions — ten real engine-encoder outputs
    (PNG/BMP/PPM/JPEG/GIF/TIFF/WAV/FLAC/AVI/gzip), markup (html/xml)
    and plain text built from the doc text, and a control-byte blob
    for the binary fallback — and the WHATWG dispatch must route every
    one to its construction's MIME type. The oracle recomputes the
    routing from the modality rule (doc_id % 14) relationally; text
    docs are pre-filtered (no '<', no control bytes) and the plain
    leg carries a ``doc N:`` prefix so no text leg can collide with a
    byte magic."""
    import numpy as np
    import pandas as pd
    from datasketches_spark_spark.functions import detect_mime
    from datasketches_spark_spark.operators import (encode_ppm,
                                                    encode_wav)
    from datasketches_spark_spark.operators.avicodec import \
        encode_avi_rgb
    from datasketches_spark_spark.operators.flaccodec import encode_flac
    from datasketches_spark_spark.operators.gifcodec import encode_gif
    from datasketches_spark_spark.operators.imagecodec import encode_bmp
    from datasketches_spark_spark.operators.jpegcodec import encode_jpeg
    from datasketches_spark_spark.operators.pngcodec import encode_png
    from datasketches_spark_spark.operators.tiffcodec import encode_tiff

    def _payload(did: int, text: str) -> bytes:
        import gzip as _gz
        m = did % 14
        img = np.full((4, 8, 3), [60 + m, 160, 200], np.uint8)
        pcm = (np.where(np.arange(64) % 2 == 0, 1, -1)
               * 8192).astype(np.int16)
        if m == 0:
            return bytes(encode_png(img))
        if m == 1:
            return bytes(encode_bmp(img))
        if m == 2:
            return bytes(encode_ppm(img))
        if m == 3:
            return bytes(encode_jpeg(np.full((8, 8), 120, np.uint8)))
        if m == 4:
            return bytes(encode_gif(img))
        if m == 5:
            return bytes(encode_tiff(img))
        if m == 6:
            return bytes(encode_wav(pcm / 32768.0, 8000))
        if m == 7:
            return bytes(encode_flac(pcm, 8000))
        if m == 8:
            return bytes(encode_avi_rgb(
                [np.full((4, 4, 3), 90, np.uint8)] * 2, 4))
        if m == 9:
            return _gz.compress(text.encode(), mtime=0)
        if m == 10:
            return ("<html><body><p>%s</p></body></html>"
                    % text).encode()
        if m == 11:
            return ("<?xml version=\"1.0\"?><urlset><loc>%d</loc>"
                    "</urlset>" % did).encode()
        if m == 12:
            return ("doc %d: %s" % (did, text)).encode()
        return b"\x00\x01\x02" + text.encode()

    def _mk(pdf_iter):
        for pdf in pdf_iter:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [_payload(int(d), str(t)) for d, t in
                            zip(pdf["doc_id"], pdf["text"])]})

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 390)
            .where(~F.col("text").rlike("[<>&\t\n\r\\x00-\\x1f]")
                   & (F.length("text") >= 1))
            .select("doc_id", "text").repartition(4))
    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return (payloads.select(
        "doc_id", detect_mime("payload").alias("mime"))
        .orderBy("doc_id"))


def _demo_avif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVIF + HEIC decode via the system libraries (r15,
    operators/avifnative.py / heifnative.py): the committed fixtures
    (encoded once with the system aom / x265, frozen in tests/data/)
    decode through the ``decode_image`` sniff dispatch — dav1d and
    libde265 on this image, INDEPENDENT implementations from their
    encoders — inside the demo_webp_lossy mapInPandas shape, to
    (name, h, w, px_md5, mime). AV1 and HEVC reconstruction are
    exactly specified, so the oracle pins the decoded-pixel md5s as
    literals, stable across decoder versions; the mime column pins
    detect_mime's ftyp-brand dispatch on the same payloads."""
    import hashlib
    import os

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from datasketches_spark_spark.functions import detect_mime
    data_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "tests", "data")
    rows = []
    for name in ("avif_solid.avif", "avif_gradient.avif",
                 "avif_texture.avif", "heic_solid.heic",
                 "heic_gradient.heic", "heic_texture.heic"):
        with open(os.path.join(data_dir, name), "rb") as fh:
            rows.append((name, bytearray(fh.read())))
    df = spark.createDataFrame(rows, "name string, payload binary") \
        .repartition(2)
    schema = StructType([
        StructField("name", StringType()),
        StructField("h", LongType()),
        StructField("w", LongType()),
        StructField("px_md5", StringType()),
    ])

    def run(batches):
        from datasketches_spark_spark.operators import decode_image
        for pdf in batches:
            out = []
            for name, payload in zip(pdf["name"], pdf["payload"]):
                img = decode_image(bytes(payload))
                out.append((name, img.shape[0], img.shape[1],
                            hashlib.md5(img.tobytes()).hexdigest()))
            yield pd.DataFrame(out,
                               columns=["name", "h", "w", "px_md5"])

    mime = df.select("name", detect_mime("payload").alias("mime"))
    return (df.mapInPandas(run, schema)
            .join(F.broadcast(mime), "name")
            .orderBy("name"))


def _demo_unicode_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization + invisible-char stripping (r15,
    functions/text.py::unicode_normalize / strip_invisible): each doc
    text gains a DECOMPOSED suffix (base letters + combining acute /
    diaeresis, chr-constructed on both sides) and an interior
    zero-width space; the engine must NFC-fold the suffix to the
    precomposed forms and strip the ZWSP, and DuckDB replays both
    with its own ``nfc_normalize`` + ``replace`` — an independent UCD
    implementation agreeing on the fold is the whole point."""
    from datasketches_spark_spark.functions import (strip_invisible,
                                                    unicode_normalize)
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 400) \
        .where(~F.col("text").rlike("[^\\x20-\\x7e]")
               & (F.length("text") >= 10))
    zwsp = F.lit("\u200b")
    suffix = F.lit(" cafe\u0301 nai\u0308ve")
    planted = F.concat(F.substring("text", 1, 5), zwsp,
                       F.expr("substring(text, 6)"), suffix)
    return (docs.select(
        "doc_id",
        unicode_normalize(strip_invisible(planted)).alias("folded"),
        F.length(unicode_normalize(planted)).cast("long")
        .alias("folded_len"))
        .orderBy("doc_id"))


def _demo_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability metrics (r15,
    functions/quality_rules.py::readability_struct/metrics): Flesch
    Reading Ease + FK grade over the documents table — DuckDB replays
    the ENTIRE computation (word split, sentence-run count, the
    vowel-group/silent-e syllable heuristic via list lambdas, and the
    published Flesch constants in the same association order, so the
    doubles match bit-for-bit)."""
    from datasketches_spark_spark.functions.quality_rules import (
        readability_metrics, readability_struct)
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 400) \
        .where(~F.col("text").rlike("[^\\x20-\\x7e]")
               & (F.length("text") >= 1))
    bound = docs.withColumn("r", readability_struct("text"))
    m = readability_metrics(F.col("r"))
    return (bound.select(
        "doc_id",
        F.col("r")["words"].alias("words"),
        F.col("r")["sentences"].alias("sentences"),
        F.col("r")["syllables"].alias("syllables"),
        m["flesch_reading_ease"].alias("fre"),
        m["fk_grade_level"].alias("fkgl"))
        .orderBy("doc_id"))


def _demo_jpeg_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless JPEG (SOF3, r16, operators/jpeglossless.py — closes
    the r15 'lossless JPEG' documented refusal): per doc, a
    deterministic pattern image px[y][x] = (doc_id + 3y + 5x) mod 251
    at a doc_id-dependent size encodes with predictor (doc_id mod 7)+1
    and decodes back through the SOF3 path; the output pixel sum and
    far-corner value are recomputed RELATIONALLY by DuckDB from the
    same formula — the gate only matches if reconstruction is
    bit-exact for every predictor."""
    import pandas as pd
    from pyspark.sql.types import (LongType, StructField, StructType)
    from datasketches_spark_spark.operators.jpeglossless import (
        decode_jpeg_lossless, encode_jpeg_lossless)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 300)
            .select("doc_id").repartition(4))
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("h", LongType()),
        StructField("w", LongType()),
        StructField("px_sum", LongType()),
        StructField("corner", LongType()),
    ])

    def _run(pdfs):
        import numpy as np
        for pdf in pdfs:
            rows = {"doc_id": [], "h": [], "w": [], "px_sum": [],
                    "corner": []}
            for d in pdf["doc_id"]:
                d = int(d)
                h, w = 8 + d % 5, 8 + d % 7
                img = ((d + 3 * np.arange(h)[:, None]
                        + 5 * np.arange(w)[None, :]) % 251) \
                    .astype(np.uint8)
                out = decode_jpeg_lossless(encode_jpeg_lossless(
                    img, predictor=d % 7 + 1))
                rows["doc_id"].append(d)
                rows["h"].append(out.shape[0])
                rows["w"].append(out.shape[1])
                rows["px_sum"].append(int(out.astype(np.int64).sum()))
                rows["corner"].append(int(out[-1, -1]))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(_run, schema).orderBy("doc_id")


def _demo_sketch_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven shuffle/layout planning (r16,
    operators/ordering.py): the two decisions a 100 TB write stage
    makes from PERSISTED kilobyte states instead of extra passes over
    the data. Leg 'bucket' — equi-depth range layout: boundaries
    decoded from a quantile state (quantile_boundaries; exact regime,
    so DuckDB's quantile_disc reproduces them bit-for-bit), bucket ids
    as pure scan-stage Column arithmetic (quantile_bucket), per-bucket
    min/max/count prove depth balance and contiguity. Leg 'salt' —
    skew salting driven by a freq-items state: languages above 1/4 of
    the corpus (hot_keys_from_state, exact regime) fan out into 4
    deterministic doc_id-keyed subkeys (skew_salt), cold keys keep
    salt 0; per-language salt fan-out and row count replay exactly."""
    from datasketches_spark_spark.operators import (
        hot_keys_from_state, quantile_bucket, quantile_boundaries,
        skew_salt, sketch_accumulate)

    # persisted: the two state collects, the count, and the two
    # output legs would otherwise rescan the source five times; one
    # cached copy max across invocations (the q32 pattern)
    docs = read_table(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "n_chars").persist()
    _rotate_persisted(_demo_sketch_layout, "_docs", docs)
    qstate = bytes(sketch_accumulate(
        docs, [], "n_chars", family="quantile", impl="MERGEABLE",
        k=65536).collect()[0]["state"])
    bounds = quantile_boundaries(qstate, 4)
    bucket = (docs.groupBy(
        quantile_bucket(F.col("n_chars").cast("double"), bounds)
        .alias("bk"))
        .agg(F.min("n_chars").cast("double").alias("lo"),
             F.max("n_chars").cast("double").alias("hi"),
             F.count("*").alias("n"))
        .select(F.lit("bucket").alias("leg"),
                F.col("bk").cast("string").alias("k"),
                "lo", "hi", "n"))
    fstate = bytes(sketch_accumulate(
        docs, [], "lang", family="freq", max_map_size=1024)
        .collect()[0]["state"])
    total = docs.count()
    hot = hot_keys_from_state(fstate, total // 4)
    salt = skew_salt("lang", hot, 4, F.col("doc_id"))
    salted = (docs.groupBy("lang")
              .agg(F.countDistinct(salt).cast("double").alias("lo"),
                   F.lit(0.0).alias("hi"),
                   F.count("*").alias("n"))
              .select(F.lit("salt").alias("leg"),
                      F.col("lang").alias("k"), "lo", "hi", "n"))
    return bucket.unionByName(salted).orderBy("leg", "k")


def _demo_multi_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N sketch families in ONE scan (r17,
    operators/sketch_agg.py::sketch_accumulate_multi): the summary-
    table WRITE shape at 100 TB — a daily rollup persisting
    quantile + NDV + freq + bloom states per key must scan the day
    once and shuffle ONE state-only row per group, not run four
    independent aggregate jobs. Leg 'multi' estimates all four
    measures from one sketch_accumulate_multi pass; leg 'single'
    recomputes them from four independent sketch_accumulate runs —
    the gate pins multi == single == exact (every family in its
    exact regime at gate scale, so DuckDB replays every value:
    quantile_disc, COUNT DISTINCT, the max per-source count, and a
    guaranteed-member bloom probe that must hit)."""
    from datasketches_spark_spark import functions as dsf
    from datasketches_spark_spark.operators import (
        sketch_accumulate, sketch_accumulate_multi, state_measure)
    docs = read_table(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "source",
                F.col("n_chars").cast("double").alias("n_chars")) \
        .persist()
    _rotate_persisted(_demo_multi_accumulate, "_docs", docs)
    probes = docs.groupBy("lang").agg(F.min("doc_id").alias("probe"))

    def _estimates(states: DataFrame, leg: str) -> DataFrame:
        return (states.join(probes, "lang").select(
            F.lit(leg).alias("leg"), "lang",
            dsf.approx_percentile_estimate("q", 0.5).alias("p50"),
            dsf.approx_count_distinct_estimate("t")
            .cast("long").alias("ndv"),
            F.element_at(dsf.approx_freqitems_estimate("f"),
                         1)["estimated"].cast("long").alias("top_n"),
            dsf.approx_membership_contains("b", F.col("probe"))
            .cast("int").alias("probe_hit")))

    measures = [
        state_measure("q", "n_chars", "quantile",
                      impl="MERGEABLE", k=65536),
        state_measure("t", "doc_id", "theta", k=4096),
        state_measure("f", "source", "freq", max_map_size=1024),
        state_measure("b", "doc_id", "membership",
                      expected_items=4096, fpp=0.001),
    ]
    multi = sketch_accumulate_multi(docs, ["lang"], measures)
    single = (
        sketch_accumulate(docs, ["lang"], "n_chars", family="quantile",
                          impl="MERGEABLE", k=65536, state_col="q")
        .join(sketch_accumulate(docs, ["lang"], "doc_id",
                                family="theta", k=4096,
                                state_col="t"), "lang")
        .join(sketch_accumulate(docs, ["lang"], "source",
                                family="freq", max_map_size=1024,
                                state_col="f"), "lang")
        .join(sketch_accumulate(docs, ["lang"], "doc_id",
                                family="membership",
                                expected_items=4096, fpp=0.001,
                                state_col="b"), "lang"))
    return (_estimates(multi, "multi")
            .unionByName(_estimates(single, "single"))
            .orderBy("leg", "lang"))


def _demo_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order keys (r15, operators/ordering.py::zorder_key): the
    bit-interleaved layout key over two doc-derived dimensions,
    replayed by DuckDB with the explicit shift/and/or formula — plus
    the LOCALITY property the layout exists for, recomputed
    relationally: bucketing by the key's high bits must bound BOTH
    dimensions inside every bucket (that bound is what parquet
    min/max pruning cashes in on at 100 TB)."""
    from datasketches_spark_spark.operators.ordering import zorder_key
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 4096) \
        .select("doc_id",
                (F.col("doc_id") % 64).alias("x"),
                (F.col("doc_id") / 64).cast("long").alias("y"))
    keyed = docs.select(
        "doc_id", "x", "y",
        zorder_key(["x", "y"], bits=6).alias("z"))
    spans = (keyed.groupBy(F.shiftright("z", 8).alias("bucket"))
             .agg(F.count("*").alias("n"),
                  (F.max("x") - F.min("x")).alias("span_x"),
                  (F.max("y") - F.min("y")).alias("span_y")))
    return (keyed.join(spans,
                       F.shiftright(keyed["z"], 8) == spans["bucket"])
            .select("doc_id", "x", "y", "z",
                    "bucket", "n", "span_x", "span_y")
            .orderBy("doc_id"))


def _demo_langid_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten-language lang_id (r15, functions/text.py — the extension
    set behind ``langs=LANG_ORDER_WIDE``; the board query q22 keeps
    the original five and its lock): each doc takes a short natural
    prefix plus TWENTY repetitions of its doc_id-selected language's
    stopword list (the planted signal dominates any natural-text
    hits), and the argmax-with-tie-break rule is replayed
    relationally from the SAME stopword dict the engine uses — the
    oracle SQL is GENERATED from functions.text.STOPWORDS at call
    time, so engine and oracle cannot drift."""
    from datasketches_spark_spark.functions.text import (
        LANG_ORDER_WIDE, STOPWORDS, lang_id)
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 400) \
        .where(~F.col("text").rlike("[^\\x20-\\x7e]")
               & ~F.col("text").contains("  ")
               & (F.length("text") >= 10))
    n = len(LANG_ORDER_WIDE)
    planted_tail = F.element_at(
        F.array(*[F.lit(" " + " ".join(STOPWORDS[lg] * 20))
                  for lg in LANG_ORDER_WIDE]),
        (F.col("doc_id") % n + 1).cast("int"))
    planted = F.concat(F.substring("text", 1, 120), planted_tail)
    return (docs.select(
        "doc_id",
        lang_id(planted, langs=LANG_ORDER_WIDE).alias("lang"))
        .orderBy("doc_id"))


def _demo_langid_wide_oracle() -> str:
    """Generated from the engine's own STOPWORDS — see the gate."""
    from datasketches_spark_spark.functions.text import (
        LANG_ORDER_WIDE, STOPWORDS)
    n = len(LANG_ORDER_WIDE)
    tails = ", ".join(
        "'" + " " + " ".join(STOPWORDS[lg] * 20) + "'"
        for lg in LANG_ORDER_WIDE)
    score_cols = ",\n".join(
        f"  len(list_filter(string_split(planted, ' '), "
        f"x -> list_contains([{', '.join(repr(w) for w in STOPWORDS[lg])}], x))) "
        f"AS s_{lg}" for lg in LANG_ORDER_WIDE)
    best = "greatest(" + ", ".join(
        f"s_{lg}" for lg in LANG_ORDER_WIDE) + ")"
    pick = "CASE " + " ".join(
        f"WHEN s_{lg} = best THEN '{lg}'"
        for lg in LANG_ORDER_WIDE) + " END"
    return f"""
        WITH planted AS (
          SELECT doc_id,
                 substr(text, 1, 120) ||
                   ([{tails}])[CAST(doc_id % {n} AS INT) + 1]
                   AS planted
          FROM documents
          WHERE doc_id < 400
            AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
            AND text NOT LIKE '%  %'
            AND length(text) >= 10
        ), scored AS (
          SELECT doc_id,
{score_cols}
          FROM planted
        ), ranked AS (
          SELECT doc_id, {best} AS best, * FROM scored
        )
        SELECT doc_id,
               CASE WHEN best > 0 THEN {pick} ELSE 'und' END AS lang
        FROM ranked ORDER BY doc_id
    """


def _demo_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction (r15-r17 packagings,
    operators/pdfcodec.py — the write/read-symmetry gate, the
    demo_warc_roundtrip convention: no PDF tool exists in this
    environment): doc_id % 7 picks the document shape — classic
    simple-font, Identity-H ``/Type0`` with a ToUnicode CMap (the
    page-two text carries a non-ASCII character ONLY the CMap decode
    path can recover), PDF 1.5 ObjStm + xref-stream packaging, an
    ENCRYPTED document (r17, ``pdfcrypt.py``: RC4 /V2 or AES-256
    /AESV3 R6 under the standard security handler with an empty user
    password — the owner-restrictions-only wild shape that must
    decrypt with no secret), or (r17) Identity-H Type0 WITHOUT
    /ToUnicode whose text is recoverable only by inverting the
    embedded /FontFile2 sfnt ``cmap`` table (its page-two ✓ proves
    the font-program path decodes, not latin-1 fallback), or (r18) a
    PREDEFINED ``/UniGB-UCS2-H`` CMap with neither ToUnicode nor
    FontFile2 — recoverable because the UCS2 family's code space IS
    UTF-16BE (``_UTF16CMap``; its page-two ✓ proves the table-free
    predefined path decodes). ``extract_pdf_text`` recovers the
    exact text plus the structural counts (stream counts differ per
    shape: content only / +CMap / +ObjStm+XRef / content only for
    the encrypted pair — decryption happening before inflation is
    exactly what the count pins — / +FontFile2 / content only for
    ucs2) — all rebuilt relationally by DuckDB."""
    import pandas as pd
    from datasketches_spark_spark.operators import extract_pdf_text
    from datasketches_spark_spark.operators.pdfcodec import (
        encode_pdf_text, encode_pdf_text_encrypted,
        encode_pdf_text_objstm, encode_pdf_text_type0)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .where(~F.col("text").rlike("[^\\x20-\\x7e]")
                   & (F.length("text") >= 60))
            .select("doc_id", "text").repartition(4))

    def _mk(pdf_iter):
        enc = [encode_pdf_text, encode_pdf_text_type0,
               encode_pdf_text_objstm,
               lambda p: encode_pdf_text_encrypted(p, "rc4"),
               lambda p: encode_pdf_text_encrypted(p, "aes256"),
               lambda p: encode_pdf_text_type0(p, mapping="fontfile"),
               lambda p: encode_pdf_text_type0(p, mapping="ucs2")]
        for pdf in pdf_iter:
            payloads = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                p2 = ("doc %d second page ✓" % d if d % 7 in (1, 5, 6)
                      else "doc %d second page" % d)
                payloads.append(enc[d % 7]([str(t)[:60], p2]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    pdfs = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return (extract_pdf_text(pdfs, "doc_id")
            .select("doc_id", "text", "pages", "streams")
            .orderBy("doc_id"))


def _demo_docx_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX text extraction (r15, operators/docxcodec.py — the
    demo_pdf_text pattern): each doc becomes a two-paragraph .docx
    through the deterministic writer (the second paragraph carries
    XML specials that must escape and decode: ``< & >``), and
    ``extract_docx_text`` must recover the exact text plus the
    paragraph count — rebuilt relationally by DuckDB."""
    import pandas as pd
    from datasketches_spark_spark.operators import extract_docx_text
    from datasketches_spark_spark.operators.docxcodec import \
        encode_docx_text

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .where(~F.col("text").rlike("[^\\x20-\\x7e]")
                   & (F.length("text") >= 40))
            .select("doc_id", "text").repartition(4))

    def _mk(pdf_iter):
        for pdf in pdf_iter:
            payloads = [encode_docx_text(
                [str(t)[:40], "doc %d: a < b & c > d" % int(d)])
                for d, t in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    pkgs = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return (extract_docx_text(pkgs, "doc_id")
            .select("doc_id", "text", "paragraphs")
            .orderBy("doc_id"))


def _demo_office_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX + PPTX + ODT + ODS extraction (r15 + r16 OpenDocument,
    operators/ooxmlcodec.py + odfcodec.py — the write/read-symmetry
    gate across the Office triple AND both OpenDocument branches
    detect_ooxml routes): doc_id % 4 picks the package species —
    a two-row OOXML spreadsheet (a text cell, a numeric cell, and an
    XML-special cell that must escape and decode), a two-slide deck,
    a two-paragraph OpenDocument text (entity-bearing paragraph), or
    a two-row OpenDocument spreadsheet (same cell shapes as the XLSX
    branch — the two spreadsheet species must agree on the flat-text
    contract); the extracted flat text and unit counts rebuild
    relationally from the documents columns."""
    import pandas as pd
    from datasketches_spark_spark.operators import (extract_ods_text,
                                                    extract_odt_text,
                                                    extract_pptx_text,
                                                    extract_xlsx_text)
    from datasketches_spark_spark.operators.odfcodec import (
        encode_ods_cells, encode_odt_text)
    from datasketches_spark_spark.operators.ooxmlcodec import (
        encode_pptx_text, encode_xlsx_cells)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .where(~F.col("text").rlike("[^\\x20-\\x7e]")
                   & (F.length("text") >= 30))
            .select("doc_id", "text").repartition(4))

    def _mk(pdf_iter):
        for pdf in pdf_iter:
            ids, payloads = [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d, t = int(d), str(t)[:30]
                if d % 4 == 0:
                    payloads.append(encode_xlsx_cells(
                        [[t, d], ["a < b & c", d * 2]]))
                elif d % 4 == 1:
                    payloads.append(encode_pptx_text(
                        [t, "slide two of doc %d" % d]))
                elif d % 4 == 2:
                    payloads.append(encode_odt_text(
                        [t, "odt & <para> two of doc %d" % d]))
                else:
                    payloads.append(encode_ods_cells(
                        [[t, d], ["a < b & c", d * 2]]))
                ids.append(d)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    # persist: all four parity branches read this, and the filter
    # sits above mapInPandas — without a cache every doc is ENCODED
    # four times; one cached copy max across invocations
    pkgs = docs.mapInPandas(
        _mk, "doc_id long, payload binary").persist()
    _rotate_persisted(_demo_office_text, "_pkgs", pkgs)
    xl = extract_xlsx_text(pkgs.where(F.col("doc_id") % 4 == 0),
                           "doc_id")
    pp = extract_pptx_text(pkgs.where(F.col("doc_id") % 4 == 1),
                           "doc_id")
    od = extract_odt_text(pkgs.where(F.col("doc_id") % 4 == 2),
                          "doc_id")
    os_ = extract_ods_text(pkgs.where(F.col("doc_id") % 4 == 3),
                           "doc_id")
    return (xl.select("doc_id", "text", "units")
            .unionByName(pp.select("doc_id", "text", "units"))
            .unionByName(od.select("doc_id", "text", "units"))
            .unionByName(os_.select("doc_id", "text", "units"))
            .orderBy("doc_id"))


def _demo_subtitle_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle text extraction across EVERY crawl shape (r18,
    operators/subtitlecodec.py::subtitle_text +
    operators/multimodal.py::extract_subtitle_text — subtitles as a
    crawl TEXT source): doc_id % 7 picks the packaging — an
    S_TEXT/UTF8 Matroska track (the SRT-in-Matroska mapping, cues
    verbatim, written as BlockGroup/Block + BlockDuration like real
    muxers), an S_TEXT/ASS Matroska track (Dialogue lines whose
    ``{\\b1}``-style override tags must strip and whose ``\\N`` soft
    break becomes a newline), a bare SRT sidecar (CRLF + BOM
    dressings rotate per doc — the Windows-tooling shapes the parser
    normalizes away), a bare WebVTT file (NOTE block, cue
    identifiers, cue settings, and ``<i>`` cue-text tags all present
    and all invisible in the extraction), a bare ASS/SSA script
    (the SSA ``Marked`` Format variant rotates in), an MP4 ``tx3g``
    timed-text track (3GPP TS 26.245 — the ``styl`` modifier-box and
    moov-after-mdat dressings rotate per doc), and an MP4 ``wvtt``
    track (WebVTT in MP4, ISO 14496-30 — vttc cue boxes whose payl
    payloads are the text; iden/sttg dressing and the fragmented
    moof/trun layout rotate per doc) — each carrying the doc's text
    as cue one and a doc-numbered cue two, with the container legs
    declaring a track language (eng/spa/deu/nld) and the bare files
    reporting ``und`` (the formats carry none). The extracted text,
    cue count, format and language rebuild relationally from the
    documents columns in DuckDB."""
    import pandas as pd
    from datasketches_spark_spark.operators import extract_subtitle_text
    from datasketches_spark_spark.operators.mkvcodec import build_mkv
    from datasketches_spark_spark.operators.mp4codec import build_mp4
    from datasketches_spark_spark.operators.subtitlecodec import (
        build_ass, build_srt, build_vtt)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .where(~F.col("text").rlike("[^\\x20-\\x7e]")
                   & ~F.col("text").rlike("[{}\\\\<>&]")
                   & (F.length("text") >= 30))
            .select("doc_id", "text").repartition(4))

    def _mk(pdf_iter):
        for pdf in pdf_iter:
            ids, payloads = [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d, t = int(d), str(t)[:30]
                leg = d % 7
                if leg == 0:
                    payloads.append(build_mkv(
                        subtitle_cues=[t.encode(),
                                       b"cue two of doc %d" % d],
                        subtitle_lang="eng",
                        tags=b"" if d % 4 else b"doc %d" % d))
                elif leg == 1:
                    payloads.append(build_mkv(
                        subtitle_cues=[
                            b"1,0,Default,,0,0,0,,{\\b1}" + t.encode()
                            + b"{\\b0}",
                            b"2,0,Default,,0,0,0,,line two\\Nof doc "
                            b"%d" % d],
                        subtitle_codec="S_TEXT/ASS",
                        subtitle_lang="spa"))
                elif leg == 2:
                    payloads.append(build_srt(
                        [(0, 1500, t),
                         (2000, 3500, "cue two of doc %d" % d)],
                        crlf=bool(d % 2), bom=bool((d // 7) % 2)))
                elif leg == 3:
                    payloads.append(build_vtt(
                        [(0, 1500, "<i>%s</i>" % t),
                         (2000, 3500, "cue two of doc %d" % d)],
                        note="doc %d" % d, ids=bool(d % 2),
                        settings="align:start" if d % 3 else ""))
                elif leg == 4:
                    payloads.append(build_ass(
                        [(0, 1500, "{\\b1}%s{\\b0}" % t),
                         (2000, 3000,
                          "line two\\Nof doc %d" % d)],
                        ssa=bool((d // 7) % 2)))
                elif leg == 5:
                    payloads.append(build_mp4(
                        subtitle_cues=[t, "cue two of doc %d" % d],
                        subtitle_lang="deu",
                        subtitle_styl=bool(d % 2),
                        moov_first=bool((d // 7) % 2),
                        tags=b"" if d % 4 else b"doc %d" % d))
                else:
                    payloads.append(build_mp4(
                        subtitle_cues=[t, "cue two of doc %d" % d],
                        subtitle_lang="nld",
                        subtitle_format="wvtt",
                        subtitle_styl=bool(d % 2),
                        fragmented=bool((d // 7) % 2)))
                ids.append(d)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    pkgs = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return (extract_subtitle_text(pkgs, "doc_id")
            .select("doc_id", "text", "cues", "sub_codec", "lang")
            .orderBy("doc_id"))


def _demo_media_lyrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded lyrics as a crawl text source (r18,
    operators/mediameta.py::media_lyrics): doc_id % 4 picks the
    carrier — an ID3v2 USLT frame (with its ISO-639-2 language), a
    FLAC LYRICS Vorbis comment, an Ogg Vorbis UNSYNCEDLYRICS
    comment, or an MP4 ``©lyr`` ilst atom — each carrying two
    doc-derived verse lines; text and language rebuild relationally
    in DuckDB (the comment carriers declare no language)."""
    import pandas as pd

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .where(~F.col("text").rlike("[^\\x20-\\x7e]")
                   & ~F.col("text").rlike("[{}\\\\<>&\"'=]")
                   & (F.length("text") >= 30)
                   & (F.trim(F.substring("text", 1, 24)) != ""))
            .select("doc_id", "text").repartition(4))

    def _mk(pdf_iter):
        import numpy as np
        from datasketches_spark_spark.operators.flaccodec import (
            encode_flac)
        from datasketches_spark_spark.operators.mediameta import (
            build_id3v2)
        from datasketches_spark_spark.operators.mp3codec import (
            build_frame_stream)
        from datasketches_spark_spark.operators.mp4codec import (
            build_mp4)
        from datasketches_spark_spark.operators.oggcodec import (
            build_ogg_stream)
        mp3 = build_frame_stream(b"m", 3)
        for pdf in pdf_iter:
            ids, payloads = [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                verse = ("%s\nsecond line of doc %d"
                         % (str(t)[:24].strip(), d))
                leg = d % 4
                if leg == 0:
                    payloads.append(build_id3v2(
                        {"title": "s"},
                        lyrics=("eng", verse)) + mp3)
                elif leg == 1:
                    payloads.append(encode_flac(
                        np.zeros(64), 8000,
                        tags={"LYRICS": verse}))
                elif leg == 2:
                    payloads.append(build_ogg_stream(
                        b"o%d" % d, 4, codec="vorbis",
                        comments={"UNSYNCEDLYRICS": verse}))
                else:
                    payloads.append(build_mp4(
                        subtitle_cues=["c"],
                        tag_fields={"lyrics": verse}))
                ids.append(d)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    pkgs = docs.mapInPandas(_mk, "doc_id long, payload binary")

    def _lyr(pdf_iter):
        from datasketches_spark_spark.operators.mediameta import (
            media_lyrics)
        for pdf in pdf_iter:
            texts, langs = [], []
            for raw in pdf["payload"]:
                try:
                    r = media_lyrics(bytes(raw))
                    texts.append(r["text"])
                    langs.append(r["lang"])
                except ValueError:
                    texts.append(None)
                    langs.append(None)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "text": texts, "lang": langs})

    return (pkgs.mapInPandas(
                _lyr, "doc_id long, text string, lang string")
            .orderBy("doc_id"))


def _demo_cover_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Album-art dedup across every audio/AV carrier (r18,
    operators/mediameta.py::cover_art + operators/multimodal.py::
    extract_cover_art — the demo_video_dedup pattern applied to
    embedded pictures): doc_id % 3 picks the art (deterministic
    pixels), (doc_id // 3) % 5 the carrier — ID3v2 APIC, a FLAC
    PICTURE block, the Ogg METADATA_BLOCK_PICTURE base64 comment,
    an MP4 covr atom, a Matroska image attachment — and the PNG
    encode level alternates by doc parity so the embedded BYTES
    genuinely differ within a group. The extracted covers decode
    (imagecodec.decode_image) and hash on PIXELS: every art group
    must collapse to ONE pixel hash across all FIVE carriers."""
    import hashlib

    import pandas as pd
    from datasketches_spark_spark.operators import extract_cover_art

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 300)
            .select("doc_id").repartition(4))

    def _mk(pdf_iter):
        import numpy as np
        from datasketches_spark_spark.operators.flaccodec import (
            encode_flac)
        from datasketches_spark_spark.operators.mediameta import (
            build_id3v2, flac_add_picture, ogg_cover_comment)
        from datasketches_spark_spark.operators.mkvcodec import (
            build_mkv)
        from datasketches_spark_spark.operators.mp3codec import (
            build_frame_stream)
        from datasketches_spark_spark.operators.mp4codec import (
            build_mp4)
        from datasketches_spark_spark.operators.oggcodec import (
            build_ogg_stream)
        from datasketches_spark_spark.operators.pngcodec import (
            encode_png)
        mp3 = build_frame_stream(b"m", 3)
        arts = {}
        for g in range(3):
            px = ((np.arange(192).reshape(8, 8, 3) * (g + 3)) % 251
                  ).astype(np.uint8)
            arts[g] = px
        for pdf in pdf_iter:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                img = arts[d % 3]
                png = encode_png(img, level=1 if d % 2 else 6)
                cov = ("image/png", png)
                leg = (d // 3) % 5
                if leg == 0:
                    payloads.append(
                        build_id3v2({"title": "s"}, cover=cov) + mp3)
                elif leg == 1:
                    payloads.append(flac_add_picture(
                        encode_flac(np.zeros(64), 8000),
                        "image/png", png))
                elif leg == 2:
                    payloads.append(build_ogg_stream(
                        b"o", 4, codec="opus",
                        comments={"METADATA_BLOCK_PICTURE":
                                  ogg_cover_comment(
                                      "image/png", png)}))
                elif leg == 3:
                    payloads.append(build_mp4(
                        subtitle_cues=["c"], cover=cov))
                else:
                    payloads.append(build_mkv(
                        subtitle_cues=[b"c"],
                        attachments=[("cover.png",
                                      "image/png", png)]))
                ids.append(d)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    pkgs = docs.mapInPandas(_mk, "doc_id long, payload binary")
    covers = extract_cover_art(pkgs, "doc_id")

    def _pix(pdf_iter):
        from datasketches_spark_spark.operators.imagecodec import (
            decode_image)
        for pdf in pdf_iter:
            hs = [hashlib.md5(
                decode_image(bytes(c)).tobytes()).hexdigest()
                for c in pdf["cover"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "pixel_hash": hs})

    hashed = covers.mapInPandas(_pix, "doc_id long, pixel_hash string")
    return (hashed
            .withColumn("art", F.col("doc_id") % 3)
            .withColumn("carrier", (F.col("doc_id") / 3)
                        .cast("long") % 5)
            .groupBy("art")
            .agg(F.countDistinct("pixel_hash").alias("n_hashes"),
                 F.countDistinct("carrier").alias("n_carriers"),
                 F.count("*").alias("n_docs"))
            .orderBy("art"))


def _demo_page_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level curation signals (r18, functions/html.py::
    html_canonical_url / html_noindex / html_feed_links): the three
    head-element signals a crawl pipeline reads before any content
    work — the page's own canonical URL (the URL-variant dedup
    signal; even docs carry one, either attribute order by doc
    parity), the robots meta directive (doc_id % 3 rotates
    ``noindex, follow`` / ``index, follow`` / absent — only the
    first is True, and the regex must match the TOKEN, not a
    ``noindexing`` substring), and feed autodiscovery links
    (doc_id % 4 picks 2 / 1 / 1 / 0 rss+atom link elements, with a
    stylesheet link that must NOT match). All pure Column exprs;
    every output rebuilds relationally in DuckDB."""
    from datasketches_spark_spark.functions import (
        html_canonical_url, html_feed_links, html_noindex)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .select("doc_id"))

    d = F.col("doc_id").cast("string")
    canon_url = F.concat(F.lit("https://canon"),
                         (F.col("doc_id") % 5).cast("string"),
                         F.lit(".example/page"), d)
    canon = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(
            F.lit('<link rel="canonical" href="'), canon_url,
            F.lit('">')))
         .when(F.col("doc_id") % 4 == 2, F.concat(
            F.lit('<link href="'), canon_url,
            F.lit('" rel="canonical">')))
         .otherwise(F.lit("")))
    robots = (
        F.when(F.col("doc_id") % 3 == 0,
               F.lit('<meta name="robots" '
                     'content="noindex, follow">'))
         .when(F.col("doc_id") % 3 == 1,
               F.lit('<meta name="robots" '
                     'content="index, follow">'))
         .otherwise(F.lit("")))
    feed1 = F.concat(
        F.lit('<link rel="alternate" type="application/rss+xml" '
              'href="/feed'), d, F.lit('-1.xml">'))
    feed2 = F.concat(
        F.lit('<link type="application/atom+xml" href="/feed'),
        d, F.lit('-2.xml">'))
    feeds = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(feed1, feed2))
         .when(F.col("doc_id") % 4 == 3, F.lit(""))
         .otherwise(feed1))
    page = F.concat(
        F.lit("<html><head><title>t</title>"), canon, robots, feeds,
        F.lit('<link rel="stylesheet" href="/style.css">'
              "</head><body>b</body></html>"))
    pages = docs.select("doc_id", page.alias("html"))
    fl = html_feed_links("html")
    return (pages.select(
                "doc_id",
                html_canonical_url("html").alias("canonical"),
                html_noindex("html").alias("noindex"),
                F.size(fl).alias("n_feeds"),
                F.try_element_at(fl, F.lit(1)).alias("first_feed"))
            .orderBy("doc_id"))


def _demo_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-feed parsing as crawl discovery (r18,
    functions/urls.py::feed_kind/feed_title/feed_entries — the other
    discovery document next to sitemaps, carrying entry URLs WITH
    titles and timestamps): even docs become an RSS 2.0 channel (a
    CDATA-wrapped channel title, two ``<item>`` blocks with
    entity-escaped links, plus a link-less third item that must
    DROP), odd docs an Atom feed (a ``rel="self"`` bookkeeping link
    on the feed AND on entry one that must LOSE to the
    ``rel="alternate"`` link, entry two with a bare ``href``). The
    entries posexplode to one row each and every output column —
    kind, feed title, position, url, title, published — rebuilds
    relationally from the documents columns in DuckDB."""
    from datasketches_spark_spark.functions import (
        feed_entries, feed_kind, feed_title)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .where(~F.col("text").rlike("[^\\x20-\\x7e]")
                   & ~F.col("text").rlike("[{}\\\\<>&\"']")
                   & (F.length("text") >= 30)
                   & (F.trim(F.substring("text", 1, 20)) != ""))
            .select("doc_id", "text"))

    head = F.trim(F.substring("text", 1, 20))
    d = F.col("doc_id").cast("string")
    site = (F.col("doc_id") % 7).cast("string")

    def _iurl(i):
        return F.concat(F.lit("https://site"), site,
                        F.lit(".example/p"), d, F.lit("-%d" % i))

    def _ititle(i):
        return F.concat(F.lit("post %d of doc " % i), d)

    def _ipub(i):
        return F.concat(F.lit("2024-0"),
                        (F.col("doc_id") % 9 + 1).cast("string"),
                        F.lit("-0%d" % i))

    rss = F.concat(
        F.lit('<rss version="2.0"><channel><title><![CDATA['), head,
        F.lit(']]></title>'),
        F.lit("<item><title>"), _ititle(1),
        F.lit("</title><link>"), _iurl(1),
        F.lit("</link><pubDate>"), _ipub(1),
        F.lit("</pubDate></item>"),
        F.lit("<item><title>"), _ititle(2),
        F.lit("</title><link>"), _iurl(2),
        F.lit("</link><pubDate>"), _ipub(2),
        F.lit("</pubDate></item>"),
        F.lit("<item><title>dropped: no link</title></item>"
              "</channel></rss>"))
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><title>'),
        head,
        F.lit('</title><link rel="self" href="https://x.example/f"/>'
              '<entry><title>'), _ititle(1),
        F.lit('</title><link rel="self" '
              'href="https://x.example/e1.atom"/>'
              '<link rel="alternate" href="'), _iurl(1),
        F.lit('"/><published>'), _ipub(1),
        F.lit('</published></entry><entry><title>'), _ititle(2),
        F.lit('</title><link href="'), _iurl(2),
        F.lit('"/><updated>'), _ipub(2),
        F.lit("</updated></entry></feed>"))
    doc = F.when(F.col("doc_id") % 2 == 0, rss).otherwise(atom)
    feeds = docs.select("doc_id", doc.alias("feed"))
    return (feeds.select(
                "doc_id", feed_kind("feed").alias("kind"),
                feed_title("feed").alias("feed_title"),
                F.posexplode(feed_entries("feed"))
                 .alias("pos", "e"))
            .select("doc_id", "kind", "feed_title", "pos",
                    F.col("e.url").alias("url"),
                    F.col("e.title").alias("title"),
                    F.col("e.published").alias("published"))
            .orderBy("doc_id", "pos"))


def _demo_article_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-page article provenance as one struct (r18,
    functions/html.py::html_article_meta + html_jsonld — the page
    counterpart of demo_media_metadata's uniform record): doc_id % 3
    picks the page species — a full schema.org JSON-LD article
    (headline / nested author.name / datePublished / publisher.name
    / description, extracted with JVM get_json_object over the
    html_jsonld regexp), an OpenGraph-only page (og:title +
    meta description fill what JSON-LD would have provided — the
    coalesce fallback chain), and a bare page whose only signal is
    ``<title>``. All five output columns are pure Column expressions
    (no Python row path) and rebuild relationally from the documents
    columns in DuckDB."""
    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .where(~F.col("text").rlike("[^\\x20-\\x7e]")
                   & ~F.col("text").rlike("[{}\\\\<>&\"']")
                   & (F.length("text") >= 30)
                   & (F.trim(F.substring("text", 1, 24)) != ""))
            .select("doc_id", "text"))

    from datasketches_spark_spark.functions import html_article_meta
    head = F.trim(F.substring("text", 1, 24))
    ld = F.concat(
        F.lit('{"@type": "NewsArticle", "headline": "'), head,
        F.lit('", "author": {"name": "writer '),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('"}, "datePublished": "2024-0'),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit('-15", "publisher": {"name": "site '),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('"}, "description": "about doc '),
        F.col("doc_id").cast("string"), F.lit('"}'))
    page = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit("<html><head><title>ignored</title>"
                  "<script type=\"application/ld+json\">"), ld,
            F.lit("</script></head><body>body</body></html>")))
         .when(F.col("doc_id") % 3 == 1, F.concat(
            F.lit("<html><head><title>tfall</title>"
                  "<meta property=\"og:title\" content=\""), head,
            F.lit("\"><meta name=\"description\" content=\"md doc "),
            F.col("doc_id").cast("string"),
            F.lit("\"></head><body>b</body></html>")))
         .otherwise(F.concat(
            F.lit("<html><head><title>"), head,
            F.lit("</title></head><body>b</body></html>"))))
    return (docs.select("doc_id", page.alias("html"))
            .select("doc_id",
                    html_article_meta("html").alias("m"))
            .select("doc_id", F.col("m.title").alias("title"),
                    F.col("m.author").alias("author"),
                    F.col("m.date_published").alias("date_published"),
                    F.col("m.publisher").alias("publisher"),
                    F.col("m.description").alias("description"))
            .orderBy("doc_id"))


def _demo_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded media metadata as one uniform record (r18,
    operators/mediameta.py::media_metadata + operators/multimodal.py
    ::extract_media_metadata — curation/provenance signals the files
    themselves carry, incl. the ``has_gps`` PII flag image redaction
    must see): doc_id % 12 picks the carrier — a JPEG whose APP1 EXIF
    holds Make/Artist/Software/Orientation, a GPS IFD with an actual
    lat+lon fix on even docs, a DateTimeOriginal in the Exif sub-IFD,
    and a COM comment segment; an ID3v2.3 latin-1 tag (five text
    frames + a COMM language frame) and an ID3v2.4 UTF-16 tag
    (syncsafe frame sizes) ahead of MPEG frames; a FLAC
    VORBIS_COMMENT block; an Ogg comment packet whose codec
    alternates OpusTags / \\x03vorbis per doc; PNG tEXt chunks (zTXt
    zlib-compressed on odd docs); a RIFF LIST/INFO chunk on a real
    WAV; the PDF /Info document-information dictionary (ISO 32000
    §14.3.3 — literal strings on even docs, BOM-led UTF-16BE hex
    strings on odd); and a JPEG whose ONLY metadata is an XMP APP1
    packet (dc:title/dc:creator element forms + CreateDate/
    CreatorTool attribute forms — the fill-when-EXIF-is-silent
    path); a Matroska ``Tags`` element (SimpleTag TagName/TagString
    pairs, the official tagging-registry names); an MP4
    ``udta/meta/ilst`` atom list (the iTunes-style scheme); and a
    WebP whose extended-format ``EXIF`` chunk carries a TIFF with a
    GPS fix on even docs plus an ``XMP `` chunk filling the title.
    Every field value derives from the doc's columns, so the full
    14-column record — including per-leg n_fields counts — rebuilds
    relationally in DuckDB."""
    import pandas as pd
    from datasketches_spark_spark.operators import (
        extract_media_metadata)
    from datasketches_spark_spark.operators.mediameta import (
        build_id3v2, jpeg_add_exif, jpeg_add_xmp, pdf_with_info,
        png_add_text, wav_add_info, webp_add_metadata)

    docs = (read_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 400)
            .where(~F.col("text").rlike("[^\\x20-\\x7e]")
                   & (F.length("text") >= 30)
                   & (F.trim(F.substring("text", 1, 12)) != ""))
            .select("doc_id", "text").repartition(4))

    def _mk(pdf_iter):
        import numpy as np
        from datasketches_spark_spark.operators.audiocodec import (
            encode_wav)
        from datasketches_spark_spark.operators.flaccodec import (
            encode_flac)
        from datasketches_spark_spark.operators.jpegcodec import (
            encode_jpeg)
        from datasketches_spark_spark.operators.mp3codec import (
            build_frame_stream)
        from datasketches_spark_spark.operators.oggcodec import (
            build_ogg_stream)
        from datasketches_spark_spark.operators.pngcodec import (
            encode_png)
        from datasketches_spark_spark.operators.webpcodec import (
            encode_webp_lossless)
        from datasketches_spark_spark.operators.mkvcodec import (
            build_mkv)
        from datasketches_spark_spark.operators.mp4codec import (
            build_mp4)
        img = np.full((8, 8, 3), 90, np.uint8)
        jpg, png = encode_jpeg(img), encode_png(img)
        wav = encode_wav(np.zeros(64), 8000)
        mp3 = build_frame_stream(b"m", 3)
        webp = encode_webp_lossless(img)
        for pdf in pdf_iter:
            ids, payloads = [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d, t = int(d), str(t)
                leg = d % 12
                if leg == 0:
                    payloads.append(jpeg_add_exif(
                        jpg,
                        {"make": "Cam %d" % (d % 5),
                         "artist": t[:12].strip(),
                         "software": "engine"},
                        orientation=(d % 8) + 1,
                        gps=(d % 2 == 0),
                        date_original="2024:05:01 10:00:0%d"
                                      % (d % 10),
                        comment="doc %d" % d))
                elif leg == 1:
                    payloads.append(build_id3v2(
                        {"title": t[:20].strip(),
                         "artist": "band %d" % (d % 4),
                         "album": "LP %d" % (d % 6),
                         "date": str(1990 + d % 30),
                         "genre": "genre %d" % (d % 3)},
                        version=3, comment="c doc %d" % d) + mp3)
                elif leg == 2:
                    payloads.append(build_id3v2(
                        {"title": t[:20].strip(),
                         "artist": "uband %d" % (d % 5),
                         "date": str(2000 + d % 20)},
                        version=4, utf16=True) + mp3)
                elif leg == 3:
                    payloads.append(encode_flac(
                        np.zeros(64), 8000,
                        tags={"TITLE": t[:16].strip(),
                              "ARTIST": "flacband %d" % (d % 3),
                              "ALBUM": "falb %d" % (d % 4),
                              "ENCODER": "engine"}))
                elif leg == 4:
                    payloads.append(build_ogg_stream(
                        b"o%d" % d, 4,
                        codec="opus" if (d // 7) % 2 else "vorbis",
                        tags=b"vend",
                        comments={"TITLE": t[:16].strip(),
                                  "ARTIST": "oggband %d" % (d % 3),
                                  "DATE": str(2010 + d % 10),
                                  "DESCRIPTION": "odesc %d" % d}))
                elif leg == 5:
                    payloads.append(png_add_text(
                        png,
                        {"Title": t[:16].strip(),
                         "Author": "author %d" % (d % 4),
                         "Software": "engine",
                         "Creation Time": str(2015 + d % 5)},
                        compressed=bool(d % 2)))
                elif leg == 6:
                    payloads.append(wav_add_info(
                        wav,
                        {"title": t[:16].strip(),
                         "artist": "wband %d" % (d % 4),
                         "date": str(1995 + d % 15),
                         "software": "engine",
                         "genre": "wgen %d" % (d % 2),
                         "comment": "wc %d" % d}))
                elif leg == 7:
                    payloads.append(pdf_with_info(
                        ["pg of doc %d" % d],
                        {"title": t[:18].strip(),
                         "artist": "pauthor %d" % (d % 4),
                         "software": "engine",
                         "date": "2024010112000%d" % (d % 10),
                         "comment": "psubj %d" % d},
                        utf16=bool(d % 2)))
                elif leg == 8:
                    payloads.append(jpeg_add_xmp(
                        jpg,
                        {"title": t[:16].strip(),
                         "artist": "xmpartist %d" % (d % 3),
                         "date": str(2020 + d % 5),
                         "software": "xmptool"}))
                elif leg == 9:
                    payloads.append(build_mkv(
                        subtitle_cues=[b"c"],
                        tag_fields={"title": t[:16].strip(),
                                    "artist": "mkband %d" % (d % 3),
                                    "date": str(2005 + d % 5),
                                    "genre": "mkg %d" % (d % 2),
                                    "software": "mkmux"}))
                elif leg == 10:
                    payloads.append(build_mp4(
                        subtitle_cues=["c"],
                        tag_fields={"title": t[:16].strip(),
                                    "artist": "m4band %d" % (d % 4),
                                    "album": "m4alb %d" % (d % 3),
                                    "date": str(2012 + d % 8),
                                    "software": "m4mux"}))
                else:
                    payloads.append(webp_add_metadata(
                        webp,
                        {"make": "WCam %d" % (d % 5),
                         "artist": t[:12].strip()},
                        gps=(d % 2 == 0),
                        xmp_fields={"title": "wx %d" % d}))
                ids.append(d)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    pkgs = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return (extract_media_metadata(pkgs, "doc_id")
            .select("doc_id", "kind", "title", "artist", "album",
                    "date", "software", "genre", "comment",
                    "copyright", "make", "model", "orientation",
                    "has_gps", "n_fields")
            .orderBy("doc_id"))


def _demo_script_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-level language signals (r15, functions/text.py::
    script_counts / dominant_script / lang_id_cjk): each doc gains a
    doc_id-selected CJK/Cyrillic tail and the script rules must
    classify it — DuckDB replays the per-script counting with the
    SAME length-minus-regexp_replace formula over the SAME ranges
    (oracle generated from the engine's SCRIPT_RANGES dict, so the
    two sides cannot drift)."""
    from datasketches_spark_spark.functions.text import (
        dominant_script, lang_id_cjk, script_counts)
    docs = read_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 400) \
        .where(~F.col("text").rlike("[^\\x20-\\x7e]")
               & (F.length("text") >= 10))
    tails = ["ひらがな漢字",   # ja kana+cjk
             "한국어텍스트",   # ko hangul
             "中文文本内容",   # zh ideographs
             ""]                                        # none
    tail = F.element_at(F.array(*[F.lit(t) for t in tails]),
                        (F.col("doc_id") % 4 + 1).cast("int"))
    planted = F.concat(F.substring("text", 1, 40), tail)
    c = script_counts(planted)
    return (docs.select(
        "doc_id",
        lang_id_cjk(planted).alias("cjk_lang"),
        dominant_script(tail).alias("tail_script"),
        c["latin"].alias("n_latin"),
        (c["hiragana"] + c["katakana"] + c["hangul"] + c["cjk"])
        .alias("n_cjk_chars"))
        .orderBy("doc_id"))


def _demo_script_id_oracle() -> str:
    """Generated from the engine's SCRIPT_RANGES — see the gate."""
    from datasketches_spark_spark.functions.text import SCRIPT_RANGES

    def cnt(expr: str, name: str) -> str:
        rng = SCRIPT_RANGES[name]
        return (f"(length({expr}) - length(regexp_replace({expr}, "
                f"'[{rng}]', '', 'g')))")

    tails = ("['ひらがな漢字',"
             "'한국어텍스트',"
             "'中文文本内容','']")
    kana = (f"({cnt('p', 'hiragana')} + {cnt('p', 'katakana')})")
    return f"""
        WITH planted AS (
          SELECT doc_id,
                 substr(text, 1, 40) ||
                   ({tails})[CAST(doc_id % 4 AS INT) + 1] AS p,
                 ({tails})[CAST(doc_id % 4 AS INT) + 1] AS tail
          FROM documents
          WHERE doc_id < 400
            AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
            AND length(text) >= 10
        )
        SELECT doc_id,
               CASE WHEN {kana} > 0 THEN 'ja'
                    WHEN {cnt('p', 'hangul')} > 0 THEN 'ko'
                    WHEN {cnt('p', 'cjk')} >= 1 THEN 'zh'
                    ELSE NULL END AS cjk_lang,
               CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN 'hiragana'
                    WHEN 1 THEN 'hangul'
                    WHEN 2 THEN 'cjk'
                    ELSE 'und' END AS tail_script,
               CAST({cnt('p', 'latin')} AS BIGINT) AS n_latin,
               CAST({cnt('p', 'hiragana')} + {cnt('p', 'katakana')}
                    + {cnt('p', 'hangul')} + {cnt('p', 'cjk')}
                    AS BIGINT) AS n_cjk_chars
        FROM planted ORDER BY doc_id
    """


def demo_queries() -> dict[str, str]:
    """Redundant-coverage variants OUTSIDE the driver's 50-slot
    correctness window (round 9: the board is exactly the 50 recorded
    queries — no unrecorded body ships in ``queries()``). Every
    component these touch is hash-gated by an in-window query; the
    bodies themselves stay verified by ``tests/test_demo_queries.py``,
    which runs each against its DuckDB oracle with the driver's own
    compare. Returns name -> callable like ``queries()``."""
    return {
        "demo_percentile_multi": _q02_percentile_multi,
        "demo_freqitems_long": _q10_freqitems_long,
        "demo_pricing_summary": _q11_pricing_summary,
        "demo_multimodal": _q23_multimodal,
        "demo_set_overlap": _q28_set_overlap,
        "demo_bm25_tuned": _demo_bm25_tuned,
        "demo_spans_k12": _demo_spans_k12,
        "demo_mixture_sources": _demo_mixture_sources,
        "demo_semdedup_16": _demo_semdedup_16,
        "demo_profile_events": _demo_profile_events,
        "demo_span_removal": _demo_span_removal,
        "demo_line_dedup": _demo_line_dedup,
        "demo_hard_negatives": _demo_hard_negatives,
        "demo_bloom_prefilter": _demo_bloom_prefilter,
        "demo_domain_curation": _demo_domain_curation,
        "demo_trigram_ppl": _demo_trigram_ppl,
        "demo_url_dedup_groups": _demo_url_dedup_groups,
        "demo_epoch_order": _demo_epoch_order,
        "demo_webp_lossy": _demo_webp_lossy,
        "demo_tiff_roundtrip": _demo_tiff_roundtrip,
        "demo_warc_ingest": _demo_warc_ingest,
        "demo_html_extract": _demo_html_extract,
        "demo_http_decode": _demo_http_decode,
        "demo_jpeg_arith": _demo_jpeg_arith,
        "demo_robots_filter": _demo_robots_filter,
        "demo_warc_roundtrip": _demo_warc_roundtrip,
        "demo_sitemap_frontier": _demo_sitemap_frontier,
        "demo_link_frontier": _demo_link_frontier,
        "demo_fetch_schedule": _demo_fetch_schedule,
        "demo_snapshot_diff": _demo_snapshot_diff,
        "demo_audio_content": _demo_audio_content,
        "demo_mp3_dedup": _demo_mp3_dedup,
        "demo_audio_dedup": _demo_audio_dedup,
        "demo_video_dedup": _demo_video_dedup,
        "demo_main_content": _demo_main_content,
        "demo_mime_route": _demo_mime_route,
        "demo_avif_decode": _demo_avif_decode,
        "demo_unicode_fold": _demo_unicode_fold,
        "demo_readability": _demo_readability,
        "demo_jpeg_lossless": _demo_jpeg_lossless,
        "demo_sketch_layout": _demo_sketch_layout,
        "demo_multi_accumulate": _demo_multi_accumulate,
        "demo_zorder": _demo_zorder,
        "demo_langid_wide": _demo_langid_wide,
        "demo_pdf_text": _demo_pdf_text,
        "demo_docx_text": _demo_docx_text,
        "demo_office_text": _demo_office_text,
        "demo_subtitle_text": _demo_subtitle_text,
        "demo_media_metadata": _demo_media_metadata,
        "demo_article_meta": _demo_article_meta,
        "demo_feed_entries": _demo_feed_entries,
        "demo_page_signals": _demo_page_signals,
        "demo_cover_dedup": _demo_cover_dedup,
        "demo_media_lyrics": _demo_media_lyrics,
        "demo_script_id": _demo_script_id,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_percentile_by_flag": """
            SELECT l_returnflag,
                   quantile_disc(l_quantity, 0.5) AS p50_qty,
                   quantile_disc(l_extendedprice, 0.95) AS p95_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q03_percentile_pipeline": """
            SELECT quantile_disc(value, 0.5) AS p50,
                   quantile_disc(value, 0.95) AS p95
            FROM events
            WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-08'
              AND date_trunc('day', ts) <  TIMESTAMP '2024-01-22'
        """,
        # PMF bins: splitpoints at min + i*((max-min)/4), mass of x < sp
        # (matching sketches/kll.py::pmf); integer-valued l_quantity avoids
        # boundary-equality float hazards.
        "q04_pmf": """
            WITH b AS (SELECT l_returnflag, min(l_quantity) lo,
                              max(l_quantity) hi, count(*) n
                       FROM lineitem GROUP BY l_returnflag)
            SELECT li.l_returnflag,
                   CAST(sum(CASE WHEN l_quantity <  lo + (hi-lo)/4 THEN 1 ELSE 0 END) AS DOUBLE) / any_value(n) AS b0,
                   CAST(sum(CASE WHEN l_quantity >= lo + (hi-lo)/4 AND l_quantity < lo + 2*((hi-lo)/4) THEN 1 ELSE 0 END) AS DOUBLE) / any_value(n) AS b1,
                   CAST(sum(CASE WHEN l_quantity >= lo + 2*((hi-lo)/4) AND l_quantity < lo + 3*((hi-lo)/4) THEN 1 ELSE 0 END) AS DOUBLE) / any_value(n) AS b2,
                   CAST(sum(CASE WHEN l_quantity >= lo + 3*((hi-lo)/4) THEN 1 ELSE 0 END) AS DOUBLE) / any_value(n) AS b3
            FROM lineitem li JOIN b ON li.l_returnflag = b.l_returnflag
            GROUP BY li.l_returnflag ORDER BY li.l_returnflag
        """,
        "q05_ndv_by_type": """
            SELECT event_type, count(DISTINCT user_id) AS ndv_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q06_ndv_pipeline": """
            SELECT count(DISTINCT user_id) AS ndv_users
            FROM events WHERE date_trunc('day', ts) < TIMESTAMP '2024-01-15'
        """,
        "q07_ndv_hll": """
            SELECT event_type, count(DISTINCT user_id) AS ndv_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q08_freqitems_brand": """
            SELECT p_brand AS item, count(*) AS estimated
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY estimated DESC, item
        """,
        "q09_freqitems_pipeline": """
            SELECT o_orderpriority AS item, count(*) AS estimated
            FROM orders GROUP BY o_orderpriority ORDER BY estimated DESC, item
        """,
        "q12_percentile_impls": """
            SELECT l_returnflag,
                   quantile_disc(l_quantity, 0.5)  AS p50_default,
                   quantile_disc(l_quantity, 0.9)  AS p90_kll,
                   quantile_disc(l_quantity, 0.99) AS p99_req
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q13_percentile_sql": """
            SELECT l_returnflag,
                   quantile_disc(l_quantity, 0.5)  AS p50_qty,
                   quantile_disc(l_quantity, 0.95) AS p95_qty
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        # q17_dedup_simhash: no oracle — engine-defined 64-bit hash, checked
        # rows-only by the driver; pytest asserts the Hamming property.
        "q14_dedup_exact_normalized": r"""
            WITH eg AS (
              SELECT min(doc_id) AS group_id, count(*) AS n_dups
              FROM (SELECT doc_id,
                           array_to_string(list_sort(list_distinct(
                               string_split(text, ' '))), ' ') AS fp
                    FROM documents)
              GROUP BY fp HAVING count(*) > 1),
            bothc AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000000, text FROM documents),
            r AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 1 THEN upper(text)
                          WHEN doc_id % 3 = 0 THEN replace(text, ' ', '  ')
                          ELSE text END AS t
              FROM bothc),
            ng AS (
              SELECT md5(trim(regexp_replace(lower(t), '\s+', ' ', 'g')))
                       AS grp,
                     count(*) AS n, count(DISTINCT md5(t)) AS n_var,
                     min(doc_id) AS min_doc
              FROM r GROUP BY 1 HAVING count(*) > 1),
            toks AS (SELECT doc_id,
                            list_filter(string_split(text, ' '),
                                        x -> x <> '') AS toks
                     FROM documents),
            win AS (SELECT doc_id, i - 1 AS pos,
                           toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||
                           toks[i+3]||' '||toks[i+4]||' '||toks[i+5]||' '||
                           toks[i+6]||' '||toks[i+7] AS g
                    FROM toks, unnest(range(1, len(toks) - 6)) AS r(i)),
            ndw AS (SELECT doc_id, pos,
                           count(DISTINCT doc_id) OVER (PARTITION BY g)
                             AS ndocs
                    FROM win),
            hits AS (SELECT doc_id, pos FROM ndw WHERE ndocs >= 2),
            mrk AS (SELECT doc_id, pos,
                           max(pos + 8) OVER (PARTITION BY doc_id
                                              ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND 1 PRECEDING)
                             AS run_end
                    FROM hits),
            isl AS (SELECT doc_id, pos,
                           sum(CASE WHEN run_end IS NULL OR pos > run_end
                                    THEN 1 ELSE 0 END)
                             OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS span_idx
                    FROM mrk),
            sp AS (SELECT doc_id, span_idx, min(pos) AS s,
                          max(pos) + 8 AS e, count(*) AS nw
                   FROM isl GROUP BY doc_id, span_idx),
            spd AS (SELECT doc_id, sum(nw) AS n, count(*) AS n_var,
                           sum(e - s) AS dup_tokens
                    FROM sp GROUP BY doc_id)
            SELECT 'exact' AS leg, CAST(group_id AS VARCHAR) AS grp,
                   n_dups AS n, CAST(0 AS BIGINT) AS n_var,
                   group_id AS min_doc
            FROM eg
            UNION ALL
            SELECT 'norm' AS leg, grp, n, CAST(n_var AS BIGINT) AS n_var,
                   min_doc
            FROM ng
            UNION ALL
            SELECT 'span' AS leg, CAST(doc_id AS VARCHAR) AS grp,
                   CAST(n AS BIGINT) AS n, CAST(n_var AS BIGINT) AS n_var,
                   CAST(dup_tokens AS BIGINT) AS min_doc
            FROM spd
            ORDER BY leg, grp
        """,
        "q15_dedup_minhash": """
            WITH s AS (
              SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
            ORDER BY id_a, id_b
        """,
        "q16_ngram_topk": """
            WITH gramtop AS (
              SELECT 'gram' AS leg, '' AS qid,
                     row_number() OVER (ORDER BY estimated DESC, item)
                       AS rk,
                     item, CAST(estimated AS DOUBLE) AS v
              FROM (
                SELECT bg AS item, count(*) AS estimated
                FROM (SELECT unnest(list_transform(range(1, len(t)),
                             i -> t[i] || ' ' || t[i+1])) AS bg
                      FROM (SELECT string_split(text, ' ') AS t
                            FROM documents))
                GROUP BY bg)
              QUALIFY rk <= 10),
            q(qid, term) AS (VALUES
              ('q1','spark'), ('q1','window'), ('q1','merge'),
              ('q2','customer'), ('q2','order'), ('q2','join'),
              ('q3','stream'), ('q3','filter'), ('q3','vector'),
              ('q3','hash')),
            lens AS (SELECT doc_id,
                            list_filter(string_split(text, ' '),
                                        x -> x <> '') AS t
                     FROM documents),
            stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl
                      FROM lens),
            tf AS (SELECT doc_id, dl, term, count(*) AS tf
                   FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term
                         FROM lens)
                   JOIN (SELECT DISTINCT term FROM q) USING (term)
                   GROUP BY doc_id, dl, term),
            dfq AS (SELECT doc_id, dl, term, tf,
                           count(*) OVER (PARTITION BY term) AS df
                    FROM tf),
            sc AS (SELECT q.qid, dfq.doc_id,
                          round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                                    * tf * 2.2
                                    / (tf + 1.2 * (0.25
                                                   + 0.75 * dl / avgdl))),
                                6) AS score
                   FROM dfq JOIN q USING (term) CROSS JOIN stats
                   GROUP BY 1, 2),
            bm AS (SELECT 'bm25' AS leg, qid,
                          row_number() OVER (PARTITION BY qid
                                             ORDER BY score DESC, doc_id)
                            AS rk,
                          CAST(doc_id AS VARCHAR) AS item, score AS v
                   FROM sc QUALIFY rk <= 10)
            SELECT * FROM gramtop UNION ALL SELECT * FROM bm
            UNION ALL
            SELECT 'bm25x' AS leg, qid, rk, item, v FROM bm
            ORDER BY leg, qid, rk
        """,
        "q17_simhash_portable_pairs": r"""
            WITH d AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 150),
            tok AS (SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              x -> x <> '')) AS t
                    FROM d),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv
                  FROM tok),
            bitsum AS (
              SELECT doc_id, CAST(b.b AS INT) AS b,
                     sum(CASE WHEN (hv >> CAST(b.b AS INT)) & 1 = 1
                              THEN 1 ELSE -1 END) AS s
              FROM h, unnest(range(0, 60)) AS b(b)
              GROUP BY doc_id, b.b),
            sigt AS (
              SELECT doc_id,
                     string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,
                                '' ORDER BY b DESC) AS sig
              FROM bitsum GROUP BY doc_id),
            sig AS (
              SELECT d.doc_id, COALESCE(sigt.sig, repeat('0', 60)) AS sig
              FROM d LEFT JOIN sigt ON sigt.doc_id = d.doc_id),
            sl AS (SELECT 'sig' AS leg, doc_id AS a,
                          CAST(length(replace(sig, '0', '')) AS BIGINT) AS b,
                          sig AS h
                   FROM sig),
            pl AS (SELECT 'pair' AS leg, x.doc_id AS a,
                          CAST(y.doc_id AS BIGINT) AS b,
                          CAST(len(list_filter(range(1, 61),
                               i -> substring(x.sig, CAST(i AS INT), 1)
                                    <> substring(y.sig, CAST(i AS INT), 1)))
                               AS VARCHAR) AS h
                   FROM sig x JOIN sig y ON x.doc_id < y.doc_id
                   WHERE len(list_filter(range(1, 61),
                         i -> substring(x.sig, CAST(i AS INT), 1)
                              <> substring(y.sig, CAST(i AS INT), 1))) <= 3)
            SELECT * FROM sl UNION ALL SELECT * FROM pl
            ORDER BY leg, a, b
        """,
        "q27_winnow_portable_pairs": r"""
            WITH g AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(len(text) - 15, 0) + 1),
                       i -> ('0x' || substr(md5(substr(text,
                              CAST(i AS INT), 16)), 1, 15))::BIGINT
                     ) AS hs
              FROM documents WHERE doc_id < 150),
            f AS (
              SELECT doc_id,
                     CASE WHEN len(hs) = 0 THEN []
                          WHEN len(hs) < 4 THEN [list_min(hs)]
                          ELSE list_sort(list_distinct(list_transform(
                            range(0, len(hs) - 3),
                            j -> list_min(hs[(j+1):(j+4)])))) END AS fps
              FROM g),
            fl AS (SELECT 'fp' AS leg, doc_id AS a,
                          CAST(len(fps) AS BIGINT) AS b,
                          md5(array_to_string(fps, ',')) AS h
                   FROM f),
            e AS (SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fp
                  FROM f WHERE len(fps) > 0),
            bk AS (SELECT fp FROM e GROUP BY fp
                   HAVING count(*) > 1 AND count(*) <= 64),
            p AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                         count(*) AS shared,
                         min(x.n_fp) AS n_a, min(y.n_fp) AS n_b
                  FROM e x JOIN e y ON x.fp = y.fp
                                    AND x.doc_id < y.doc_id
                  JOIN bk ON bk.fp = x.fp
                  GROUP BY 1, 2),
            pl AS (SELECT 'pair' AS leg, id_a AS a, id_b AS b,
                          shared || ':' || least(n_a, n_b) AS h
                   FROM p WHERE 2 * shared >= least(n_a, n_b))
            SELECT * FROM fl UNION ALL SELECT * FROM pl
            ORDER BY leg, a, b
        """,
        "q18_embedding_neardup": """
            WITH c AS (
              SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000,
                     list_prepend(CAST(embedding AS DOUBLE[])[1] * 1.02,
                                  CAST(embedding AS DOUBLE[])[2:])
              FROM embeddings WHERE vec_id % 2 = 0
            ),
            rhp AS (
              SELECT 'rhp' AS leg, CAST(0 AS BIGINT) AS c,
                     a.id AS id_a, b.id AS id_b
              FROM c a JOIN c b ON a.id < b.id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.98),
            cents AS (SELECT id AS cid, v AS cv FROM c WHERE id < 8),
            sims AS (SELECT c.id, cents.cid,
                            round(list_cosine_similarity(c.v, cents.cv),
                                  6) AS s
                     FROM c CROSS JOIN cents),
            asg AS (SELECT id, cid, s AS pcos
                    FROM (SELECT *,
                                 row_number() OVER (PARTITION BY id
                                                    ORDER BY s DESC, cid)
                                   AS rn
                          FROM sims)
                    WHERE rn = 1),
            av AS (SELECT a.id, a.cid, a.pcos, c.v
                   FROM asg a JOIN c USING (id)),
            hits AS (SELECT a.cid, a.id AS a_id, a.pcos AS a_pcos,
                            b.id AS b_id
                     FROM av a JOIN av b
                       ON a.cid = b.cid AND a.id <> b.id
                     WHERE (a.pcos < b.pcos
                            OR (a.pcos = b.pcos AND a.id < b.id))
                       AND round(list_cosine_similarity(a.v, b.v), 6)
                           > 0.98),
            sem AS (SELECT 'sem' AS leg, cid AS c, a_id AS id_a,
                           b_id AS id_b
                    FROM (SELECT *,
                                 row_number() OVER (PARTITION BY cid, b_id
                                                    ORDER BY a_pcos, a_id)
                                   AS rn
                          FROM hits)
                    WHERE rn = 1)
            SELECT * FROM rhp UNION ALL SELECT * FROM sem
            ORDER BY leg, c, id_a, id_b
        """,
        "q19_ann_topk": """
            SELECT q AS query_id, r AS rank, nb AS neighbor_id FROM (
              SELECT a.vec_id q, b.vec_id nb,
                     row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) r
              FROM embeddings a
              JOIN embeddings b ON a.vec_id < 20 AND b.vec_id != a.vec_id
            ) WHERE r <= 5 ORDER BY query_id, rank
        """,
        "q20_textstats": """
            WITH t AS (SELECT lang, source,
                              len(string_split(text, ' ')) AS n
                       FROM documents)
            SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens,
                   quantile_disc(CAST(n AS DOUBLE), 0.5) AS p50_tokens,
                   count(DISTINCT source) AS ndv_sources
            FROM t GROUP BY lang ORDER BY lang
        """,
        "q21_quality_repetition": """
            WITH tq AS (SELECT doc_id, string_split(text, ' ') AS toks
                        FROM documents WHERE doc_id < 50),
            qual AS (
              SELECT 'quality' AS leg, doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     CAST(0 AS BIGINT) AS n2, CAST(0 AS BIGINT) AS n3,
                     len(list_distinct(toks))::DOUBLE / len(toks) AS m1,
                     len(list_filter(toks, x -> list_contains(
                         ['the','a','and','of','to','in','is','it','for',
                          'on'], x)))::DOUBLE / len(toks) AS m2,
                     list_sum(list_transform(toks, x -> len(x)))::DOUBLE
                       / len(toks) AS m3
              FROM tq),
            tr AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents WHERE doc_id < 300),
            br AS (SELECT doc_id, toks,
                          list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1])
                            AS bg
                   FROM tr),
            cr AS (SELECT doc_id,
                          len(toks) AS n, len(list_distinct(toks)) AS nd,
                          len(bg) AS nb, len(list_distinct(bg)) AS nbd,
                          CASE WHEN len(bg) > 0 THEN
                            list_aggregate(list_transform(list_distinct(bg),
                              g -> len(list_filter(bg, x -> x = g))), 'max')
                          END AS top_bg
                   FROM br),
            rep AS (
              SELECT 'repetition' AS leg, doc_id,
                     CAST(n AS BIGINT) AS n_tokens,
                     CAST(nd AS BIGINT) AS n2,
                     CAST(top_bg AS BIGINT) AS n3,
                     CASE WHEN n > 0 THEN CAST(n - nd AS DOUBLE) / n END
                       AS m1,
                     CASE WHEN nb > 0 THEN CAST(nb - nbd AS DOUBLE) / nb END
                       AS m2,
                     CASE WHEN nb > 0 THEN CAST(top_bg AS DOUBLE) / nb END
                       AS m3
              FROM cr),
            tall AS (SELECT doc_id,
                            list_filter(string_split(text, ' '),
                                        x -> x <> '') AS toks
                     FROM documents),
            lmuni AS (SELECT w, count(*) AS c1
                      FROM (SELECT unnest(toks) AS w FROM tall)
                      GROUP BY w),
            lmbi AS (SELECT bg, count(*) AS c2
                     FROM (SELECT unnest(list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])) AS bg
                           FROM tall)
                     GROUP BY bg),
            lmstats AS (SELECT count(*) AS v, sum(c1) AS tot FROM lmuni),
            sc AS (SELECT doc_id, toks FROM tall WHERE doc_id < 200),
            pfirst AS (SELECT doc_id,
                              -ln((COALESCE(c1, 0) + 0.5)
                                  / (tot + 0.5 * v)) AS nll,
                              COALESCE(c1, 0) AS c
                       FROM (SELECT doc_id, toks[1] AS w FROM sc
                             WHERE len(toks) >= 1)
                       LEFT JOIN lmuni USING (w) CROSS JOIN lmstats),
            prest AS (SELECT doc_id,
                             -ln((COALESCE(c2, 0) + 0.5)
                                 / (COALESCE(c1, 0) + 0.5 * v)) AS nll,
                             COALESCE(c2, 0) AS c
                      FROM (SELECT doc_id, bg,
                                   string_split(bg, ' ')[1] AS w
                            FROM (SELECT doc_id,
                                         unnest(list_transform(
                                           range(1, len(toks)),
                                           i -> toks[i] || ' '
                                                || toks[i+1])) AS bg
                                  FROM sc))
                      LEFT JOIN lmbi USING (bg)
                      LEFT JOIN lmuni USING (w) CROSS JOIN lmstats),
            pterms AS (SELECT * FROM pfirst
                       UNION ALL SELECT * FROM prest),
            ppl AS (SELECT 'ppl' AS leg, doc_id,
                           count(*) AS n_tokens,
                           CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)
                                AS BIGINT) AS n2,
                           CAST(0 AS BIGINT) AS n3,
                           round(sum(nll) / count(*), 6) AS m1,
                           round(exp(sum(nll) / count(*)), 6) AS m2,
                           0.0 AS m3
                    FROM pterms GROUP BY doc_id),
            -- leg 'filter': Gopher/C4 heuristic rules, every ratio one
            -- integer division (engine runs the same expressions JVM-side)
            gt AS (SELECT doc_id, text,
                          list_filter(string_split(text, ' '),
                                      x -> x <> '') AS toks
                   FROM documents WHERE doc_id < 100),
            gs AS (SELECT doc_id, len(toks) AS nw,
                          list_sum(list_transform(toks, x -> len(x)))
                            AS twl,
                          len(list_filter(
                            ['the','a','and','of','to','in','is','it',
                             'for','on'],
                            w -> list_contains(toks, w))) AS swh,
                          len(list_filter(toks,
                            x -> regexp_matches(x, '[a-zA-Z]'))) AS naw,
                          CAST((len(text) - len(replace(text, '#', '')))
                               + (len(text)
                                  - len(replace(text, '...', ''))) / 3
                               AS BIGINT) AS nsym,
                          len(string_split(text, chr(10))) AS nl,
                          len(list_filter(string_split(text, chr(10)),
                            l -> regexp_matches(l, '^\\s*[-*•]')))
                            AS nbl,
                          len(list_filter(string_split(text, chr(10)),
                            l -> regexp_matches(l, '\\.\\.\\.\\s*$')))
                            AS nel,
                          CASE WHEN contains(lower(text), '{')
                                 OR contains(lower(text), 'lorem ipsum')
                                 OR contains(lower(text), 'javascript')
                               THEN 1 ELSE 0 END AS c4
                   FROM gt),
            gflag AS (SELECT doc_id, nw, twl, swh, naw, nbl, nl,
                        (CASE WHEN nw < 50 OR nw > 100000
                              THEN 1 ELSE 0 END
                       + CASE WHEN twl::DOUBLE / nw < 3.0
                                OR twl::DOUBLE / nw > 10.0
                              THEN 1 ELSE 0 END
                       + CASE WHEN nsym::DOUBLE / nw > 0.1
                              THEN 1 ELSE 0 END
                       + CASE WHEN naw::DOUBLE / nw < 0.80
                              THEN 1 ELSE 0 END
                       + CASE WHEN swh < 2 THEN 1 ELSE 0 END
                       + CASE WHEN nbl::DOUBLE / nl > 0.90
                              THEN 1 ELSE 0 END
                       + CASE WHEN nel::DOUBLE / nl > 0.30
                              THEN 1 ELSE 0 END
                       + c4) AS nf
                      FROM gs),
            filt AS (SELECT 'filter' AS leg, doc_id,
                            CAST(nw AS BIGINT) AS n_tokens,
                            CAST(CASE WHEN nf = 0 THEN 1 ELSE 0 END
                                 AS BIGINT) AS n2,
                            CAST(nf AS BIGINT) AS n3,
                            twl::DOUBLE / nw AS m1,
                            naw::DOUBLE / nw AS m2,
                            nbl::DOUBLE / nl AS m3
                     FROM gflag),
            -- leg 'nb': closed-form Naive Bayes refit in SQL — integer
            -- micro-unit weights make the doc score an order-independent
            -- integer sum; ln terms kept four-way to mirror the engine
            nbtok AS (SELECT doc_id, lang = 'en' AS pos,
                             unnest(list_filter(string_split(text, ' '),
                                                x -> x <> '')) AS w
                      FROM documents),
            nbcnt AS (SELECT w,
                             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
                                  AS BIGINT) AS c1,
                             CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0
                                      END) AS BIGINT) AS c0
                      FROM nbtok GROUP BY w),
            nbtot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                             CAST(sum(c0) AS BIGINT) AS n0,
                             count(*) AS v
                      FROM nbcnt),
            nbdc AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1
                                     ELSE 0 END) AS BIGINT) AS d1,
                            CAST(sum(CASE WHEN lang <> 'en' THEN 1
                                     ELSE 0 END) AS BIGINT) AS d0
                     FROM documents),
            nbwt AS (SELECT w,
                            CAST(round((ln(CAST(c1 + 1 AS DOUBLE))
                                        - ln(CAST(n1 + v AS DOUBLE))
                                        - ln(CAST(c0 + 1 AS DOUBLE))
                                        + ln(CAST(n0 + v AS DOUBLE)))
                                       * 1000000) AS BIGINT) AS wm
                     FROM nbcnt CROSS JOIN nbtot),
            nbconst AS (SELECT
                          CAST(round((ln(CAST(d1 AS DOUBLE))
                                      - ln(CAST(d0 AS DOUBLE)))
                                     * 1000000) AS BIGINT) AS prior,
                          CAST(round((ln(CAST(n0 + v AS DOUBLE))
                                      - ln(CAST(n1 + v AS DOUBLE)))
                                     * 1000000) AS BIGINT) AS dflt
                        FROM nbdc CROSS JOIN nbtot),
            nbsc AS (SELECT t.doc_id, count(*) AS nt,
                            CAST(sum(CASE WHEN wt.wm IS NULL THEN 1
                                     ELSE 0 END) AS BIGINT) AS noov,
                            CAST(sum(COALESCE(wt.wm, c.dflt)) + c.prior
                                 AS BIGINT) AS sm
                     FROM nbtok t LEFT JOIN nbwt wt ON t.w = wt.w
                     CROSS JOIN nbconst c
                     WHERE t.doc_id < 200
                     GROUP BY t.doc_id, c.prior),
            nb AS (SELECT 'nb' AS leg, doc_id,
                          CAST(nt AS BIGINT) AS n_tokens,
                          CAST(CASE WHEN sm > 0 THEN 1 ELSE 0 END
                               AS BIGINT) AS n2,
                          noov AS n3,
                          sm::DOUBLE / 1000000 AS m1,
                          0.0 AS m2, 0.0 AS m3
                   FROM nbsc)
            SELECT * FROM qual UNION ALL SELECT * FROM rep
            UNION ALL SELECT * FROM ppl
            UNION ALL SELECT * FROM filt
            UNION ALL SELECT * FROM nb
            ORDER BY leg, doc_id
        """,
        "q22_langid": """
            WITH s AS (
              SELECT
                len(list_filter(t, x -> list_contains(
                  ['the','a','and','of','to','in','is','it','for','on'], x))) s_en,
                len(list_filter(t, x -> list_contains(
                  ['der','die','das','und','ist','ein','zu','den','mit'], x))) s_de,
                len(list_filter(t, x -> list_contains(
                  ['le','la','les','et','est','un','une','des','du'], x))) s_fr,
                len(list_filter(t, x -> list_contains(
                  ['el','la','los','las','y','es','un','una','de'], x))) s_es,
                len(list_filter(t, x -> list_contains(
                  ['de','shi','bu','le','wo','ni','ta'], x))) s_zh
              FROM (SELECT string_split(text, ' ') t FROM documents)
            )
            SELECT CASE
              WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
              WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
                   AND s_en >= s_zh THEN 'en'
              WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
              WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
              WHEN s_es >= s_zh THEN 'es'
              ELSE 'zh' END AS pred_lang, count(*) AS n
            FROM s GROUP BY pred_lang ORDER BY pred_lang
        """,
        "q24_streaming_multi": """
            SELECT event_type,
                   quantile_disc(value, 0.5) AS p50_value,
                   count(DISTINCT user_id) AS ndv_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # q27_winnow: no oracle — engine-defined rolling hash (rows-only).
        "q25_ivf_ann": """
            SELECT q AS query_id, r AS rank, nb AS neighbor_id FROM (
              SELECT a.vec_id q, b.vec_id nb,
                     row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) r
              FROM embeddings a
              JOIN embeddings b ON a.vec_id < 10 AND b.vec_id != a.vec_id
            ) WHERE r <= 5 ORDER BY query_id, rank
        """,
        "q26_fingerprint_chunks": """
            WITH fp AS (
              SELECT 'fp' AS leg, doc_id, CAST(0 AS BIGINT) AS idx,
                     md5(text) AS h, CAST(0 AS BIGINT) AS n
              FROM documents WHERE doc_id < 30),
            t AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents WHERE doc_id < 200),
            nn AS (SELECT doc_id, toks,
                          greatest(CAST(ceil((len(toks) - 8) / 24.0)
                                        AS INT), 1) AS n_chunks
                   FROM t),
            c AS (SELECT doc_id, CAST(u.i AS BIGINT) AS idx,
                         array_to_string(
                           toks[(u.i * 24 + 1):(u.i * 24 + 32)], ' '
                         ) AS chunk
                  FROM nn, unnest(range(0, n_chunks)) AS u(i)),
            ch AS (SELECT 'chunk' AS leg, doc_id, idx, md5(chunk) AS h,
                          CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n
                   FROM c),
            -- pack leg: concat-and-chunk assignment via a window cumsum
            -- (oracle scale; the engine runs the distributed prefix sum)
            pt AS (SELECT doc_id,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                          CAST(COALESCE(
                                   sum(CAST(len(string_split(text, ' '))
                                            AS BIGINT))
                                   OVER (ORDER BY doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)
                               AS BIGINT) AS g
                   FROM documents WHERE doc_id < 500),
            pr AS (SELECT doc_id, n, g,
                          CAST(u.sq AS BIGINT) AS seq_id
                   FROM pt, unnest(range(CAST(g // 256 AS BIGINT),
                                         CAST((g + n - 1) // 256 + 1
                                              AS BIGINT))) AS u(sq)
                   WHERE n > 0),
            pk AS (SELECT 'pack' AS leg, doc_id, seq_id AS idx,
                          concat_ws(':',
                            greatest(0, seq_id * 256 - g),
                            least(n, (seq_id + 1) * 256 - g),
                            greatest(0, g - seq_id * 256)) AS h,
                          least(n, (seq_id + 1) * 256 - g)
                            - greatest(0, seq_id * 256 - g) AS n
                   FROM pr)
            SELECT * FROM fp UNION ALL SELECT * FROM ch
            UNION ALL SELECT * FROM pk
            ORDER BY leg, doc_id, idx
        """,
        "q29_mixed_sql": """
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
                     AS sum_price_units,
                   count(DISTINCT o_custkey) AS ndv_cust,
                   quantile_disc(o_totalprice, 0.9) AS p90_price
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q30_stratified_sample": """
            SELECT l_returnflag,
                   least(50, count(*)) AS n_sampled,
                   least(50, count(*)) AS n_unique
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q31_weighted_sample": """
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes
            FROM documents WHERE lang <> 'de'
            GROUP BY lang ORDER BY lang
        """,
        "q32_sampling_sql": """
            SELECT 'uniform' AS leg, lang,
                   array_to_string(list_sort(list(doc_id)), ',') AS doc_ids,
                   count(*) AS n_docs
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 'weighted' AS leg, lang,
                   CASE WHEN lang = 'de' THEN NULL
                        ELSE array_to_string(list_sort(list(doc_id)), ',')
                   END AS doc_ids,
                   CASE WHEN lang = 'de' THEN NULL
                        ELSE count(*) END AS n_docs
            FROM documents GROUP BY lang
            ORDER BY leg, lang
        """,
                # q34 CPC legs: source NDV per lang (~20) is far inside CPC's
        # round-exact regime at lgK=11, so exact counts are the oracle for
        # the engine's decode->estimate and decode->union->estimate paths.
        "q34_wire_interop": """
            WITH t AS (
              SELECT lang, count(*) AS r,
                     CAST(sum(n_chars) AS DOUBLE) AS s
              FROM documents WHERE doc_id < 1000 GROUP BY lang
            ), g AS (
              SELECT count(DISTINCT source) AS n, count(*) AS r,
                     CAST(sum(n_chars) AS DOUBLE) AS s
              FROM documents WHERE doc_id < 1000
            )
            SELECT d.lang,
                   quantile_disc(CAST(d.n_chars AS DOUBLE), 0.5)
                     AS p50_chars,
                   count(DISTINCT d.source) AS ndv_src,
                   (SELECT count(DISTINCT source) FROM documents)
                     AS ndv_src_all,
                   (SELECT count(DISTINCT source) FROM documents)
                     AS ndv_src_roundtrip,
                   any_value(t.r) AS tup_rows,
                   any_value(t.s) AS tup_sum,
                   any_value(g.n) AS tup_ndv_all,
                   any_value(g.r) AS tup_rows_all,
                   any_value(g.s) AS tup_sum_all,
                   -- BloomFilter mixed-origin guarantees: members all
                   -- positive, never-inserted probes all negative,
                   -- cross-origin union contains every source
                   CAST(1 AS BIGINT) AS bm_self,
                   CAST(0 AS BIGINT) AS bm_absent,
                   CAST(1 AS BIGINT) AS bm_union,
                   -- estimation-regime KLL export guarantees: java
                   -- heapifies the image (same n, identical retained
                   -- min/max), its quantiles sit in the engine's rank
                   -- window, and its re-serialization re-imports with
                   -- identical engine answers
                   CAST(1 AS BIGINT) AS kllx_heapify,
                   CAST(1 AS BIGINT) AS kllx_quantile,
                   CAST(1 AS BIGINT) AS kllx_roundtrip
            FROM documents d
            JOIN t ON t.lang = d.lang CROSS JOIN g
            GROUP BY d.lang ORDER BY d.lang
        """,
        "q35_rank_cdf": """
            SELECT l_returnflag,
                   avg(CASE WHEN CAST(l_quantity AS DOUBLE) <= 25.0
                            THEN 1.0 ELSE 0.0 END) AS rank_25,
                   avg(CASE WHEN CAST(l_quantity AS DOUBLE) <= 10.0
                            THEN 1.0 ELSE 0.0 END) AS cdf_10,
                   avg(CASE WHEN CAST(l_quantity AS DOUBLE) <= 30.0
                            THEN 1.0 ELSE 0.0 END) AS cdf_30,
                   avg(CASE WHEN CAST(l_quantity AS DOUBLE) <= 40.0
                            THEN 1.0 ELSE 0.0 END) AS cdf_40,
                   1.0 AS cdf_end
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        # q36: the stream input is the corpus DUPLICATED; after
        # within-watermark dedup the sink holds each fingerprint once, so
        # per-lang counts equal the batch distinct-fingerprint counts.
        "q36_streaming_dedup": """
            SELECT lang,
                   count(DISTINCT md5(text)) AS n_docs,
                   count(DISTINCT md5(text)) AS n_unique
            FROM documents GROUP BY lang ORDER BY lang
        """,
        # q37: same explicit half-up formula (floor(x/scale + 0.5)) in both
        # engines -> bit-identical integer codes; float->double widening is
        # identical, so the float64 scale hashes equal too.
        "q37_embedding_quantize": """
            WITH s AS (
              SELECT vec_id,
                     list_max(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
                     list_transform(embedding,
                         x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings
            )
            SELECT vec_id, scale,
                   array_to_string(list_transform(v,
                       x -> CAST(CASE WHEN scale = 0 THEN 0
                                 ELSE floor(x / scale + 0.5) END
                            AS BIGINT)), ',') AS codes
            FROM s ORDER BY vec_id
        """,
        # q38: solid-color PPM payloads mean every decoded-pixel feature
        # is recomputable from the relational columns (see _q38 docstring)
        "q38_media_codecs": """
            SELECT 'img' AS leg, source,
                   count(*) AS n,
                   CAST(4 AS BIGINT) AS i1,
                   CAST(2 AS BIGINT) AS i2,
                   avg(CAST(doc_id % 256 AS DOUBLE)) AS d1,
                   avg(CAST(length(text) % 256 AS DOUBLE)) AS d2,
                   CAST(7.0 AS DOUBLE) AS d3
            FROM documents GROUP BY source
            UNION ALL
            -- 'arj' (round 14): sequential ARITHMETIC JPEG (SOF9, the
            -- T.81 QM-coder encode+decode pair) — solid EVEN gray, so
            -- the DC quantizes exactly at quality 50 and the decoded
            -- mean is the planted value
            SELECT 'arj' AS leg, source,
                   count(*) AS n,
                   CAST(16 AS BIGINT) AS i1,
                   CAST(8 AS BIGINT) AS i2,
                   avg(CAST(80 + (doc_id % 50) * 2 AS DOUBLE)) AS d1,
                   avg(CAST(80 + (doc_id % 50) * 2 AS DOUBLE)) AS d2,
                   CAST(0.0 AS DOUBLE) AS d3
            FROM documents WHERE doc_id < 2000 GROUP BY source
            UNION ALL
            SELECT 'aud' AS leg, source,
                   count(*) AS n,
                   CAST(sum(100 + doc_id % 50) AS BIGINT) AS i1,
                   CAST(8000 AS BIGINT) AS i2,
                   avg((CAST(doc_id % 64 AS DOUBLE) + 1) / 128.0) AS d1,
                   CAST(1.0 AS DOUBLE) AS d2,
                   CAST(0.0 AS DOUBLE) AS d3
            FROM documents GROUP BY source
            UNION ALL
            -- jpeg: even grays ride 8-bit SOF0; odd grays ride 12-bit
            -- SOF1 at value x16 (round 11) — both DC-exact solids
            SELECT 'jpeg' AS leg, source,
                   count(*) AS n,
                   CAST(16 AS BIGINT) AS i1,
                   CAST(8 AS BIGINT) AS i2,
                   avg(CAST((78 + (doc_id % 50) * 2)
                       * (CASE WHEN doc_id % 2 = 1
                          THEN 16 ELSE 1 END) AS DOUBLE)) AS d1,
                   avg(CAST((78 + (doc_id % 50) * 2)
                       * (CASE WHEN doc_id % 2 = 1
                          THEN 16 ELSE 1 END) AS DOUBLE)) AS d2,
                   CAST(0.0 AS DOUBLE) AS d3
            FROM documents GROUP BY source
            UNION ALL
            SELECT 'png' AS leg, source,
                   count(*) AS n,
                   CAST(8 AS BIGINT) AS i1,
                   CAST(4 AS BIGINT) AS i2,
                   avg(CAST(doc_id % 256 AS DOUBLE)) AS d1,
                   avg(CAST(length(text) % 256 AS DOUBLE)) AS d2,
                   CAST(7.0 AS DOUBLE) AS d3
            FROM documents GROUP BY source
            UNION ALL
            SELECT 'mp3' AS leg, source,
                   count(*) AS n,
                   CAST(sum(doc_id % 64 + 5) AS BIGINT) AS i1,
                   CAST(sum((doc_id % 64 + 5) * 1152000 // 44100)
                        AS BIGINT) AS i2,
                   CAST(44100.0 AS DOUBLE) AS d1,
                   CAST(0.0 AS DOUBLE) AS d2,
                   CAST(0.0 AS DOUBLE) AS d3
            FROM documents WHERE doc_id < 2000 GROUP BY source
            UNION ALL
            SELECT 'webp' AS leg, source,
                   count(*) AS n,
                   CAST(8 AS BIGINT) AS i1,
                   CAST(4 AS BIGINT) AS i2,
                   avg(CAST(doc_id % 256 AS DOUBLE)) AS d1,
                   avg(CAST(length(text) % 256 AS DOUBLE)) AS d2,
                   CAST(9.0 AS DOUBLE) AS d3
            FROM documents WHERE doc_id < 2000 GROUP BY source
            UNION ALL
            SELECT 'flac' AS leg, source,
                   count(*) AS n,
                   CAST(sum(100 + doc_id % 50) AS BIGINT) AS i1,
                   CAST(8000 AS BIGINT) AS i2,
                   avg((CAST(doc_id % 64 AS DOUBLE) + 1) / 128.0) AS d1,
                   CAST(1.0 AS DOUBLE) AS d2,
                   CAST(0.0 AS DOUBLE) AS d3
            FROM documents WHERE doc_id < 2000 GROUP BY source
            UNION ALL
            -- 'vid': 2 sampled frames per doc — source frames 0 and 3
            -- of 4 (gray = 100 + (doc_id%60)*2 + 2k -> mean is doc gray
            -- + avg(0,6) = +3, which PINS that the sampler picked the
            -- evenly spaced endpoints); frame_idx is the sample ordinal
            -- (0,1), so its mean is 0.5
            SELECT 'vid' AS leg, source,
                   CAST(count(*) * 2 AS BIGINT) AS n,
                   CAST(8 AS BIGINT) AS i1,
                   CAST(8 AS BIGINT) AS i2,
                   avg(CAST(100 + (doc_id % 60) * 2 AS DOUBLE)) + 3.0
                     AS d1,
                   CAST(0.5 AS DOUBLE) AS d2,
                   CAST(0.0 AS DOUBLE) AS d3
            FROM documents WHERE doc_id < 2000 GROUP BY source
            UNION ALL
            -- 'rgbv' (round 11): uncompressed BI_RGB AVI, 2 of 3 solid
            -- frames sampled (red = (doc%50)*4 + 5k, endpoints k=0,2 ->
            -- mean red = doc red + 5; BI_RGB is lossless so greens/blues
            -- are the exact constants)
            SELECT 'rgbv' AS leg, source,
                   CAST(count(*) * 2 AS BIGINT) AS n,
                   CAST(10 AS BIGINT) AS i1,
                   CAST(6 AS BIGINT) AS i2,
                   avg(CAST((doc_id % 50) * 4 AS DOUBLE)) + 5.0 AS d1,
                   CAST(90.0 AS DOUBLE) AS d2,
                   CAST(9.0 AS DOUBLE) AS d3
            FROM documents WHERE doc_id < 2000 GROUP BY source
            ORDER BY leg, source
        """,
        # q39: dyadic square-wave WAVs make every audio feature exactly
        # recomputable from relational columns (see _q39 docstring)
                "q40_cpc_native_accumulate": """
            SELECT lang, count(DISTINCT source) AS ndv_src,
                   (SELECT count(DISTINCT source) FROM documents)
                     AS ndv_src_all
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "q41_theta_wire_setops": """
            WITH ls AS (SELECT DISTINCT lang, source FROM documents),
            cnt AS (SELECT lang, count(*) AS n FROM ls GROUP BY lang),
            common AS (
              SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS c
              FROM ls a JOIN ls b
                ON a.source = b.source AND a.lang < b.lang
              GROUP BY a.lang, b.lang)
            SELECT c.lang_a, c.lang_b,
                   CAST(c.c AS BIGINT) AS common_sources,
                   CAST(c.c AS DOUBLE) / (ca.n + cb.n - c.c) AS jaccard
            FROM common c
            JOIN cnt ca ON ca.lang = c.lang_a
            JOIN cnt cb ON cb.lang = c.lang_b
            ORDER BY lang_a, lang_b
        """,
        "q42_ngram_jaccard_dedup": """
            WITH s AS (
              SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              FROM (SELECT doc_id,
                           list_filter(string_split(text, ' '),
                                       x -> x <> '') AS t
                    FROM documents)
              WHERE len(t) >= 3
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6
            ORDER BY id_a, id_b
        """,
        "q43_dedup_graph": """
            WITH RECURSIVE s AS (
              SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents)
            ),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
            ),
            e AS (SELECT id_a AS u, id_b AS v FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach(id, r) AS (
              SELECT u, u FROM e
              UNION
              SELECT e.v, reach.r FROM e JOIN reach ON reach.id = e.u
            ),
            lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
            compg AS (
              SELECT 'component' AS leg, comp AS a, count(*) AS b
              FROM lab GROUP BY comp),
            ranked AS (
              SELECT lab.id, row_number() OVER (
                       PARTITION BY comp
                       ORDER BY d.n_chars DESC, lab.id) AS rn
              FROM lab JOIN documents d ON d.doc_id = lab.id),
            dropl AS (
              SELECT 'drop' AS leg, id AS a, CAST(0 AS BIGINT) AS b
              FROM ranked WHERE rn > 1)
            SELECT * FROM compg UNION ALL SELECT * FROM dropl
            ORDER BY leg, a
        """,
        "q44_incremental_dedup": """
            WITH s AS (
              SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents)
            )
            SELECT q.doc_id AS query_id, c.doc_id AS corpus_id,
                   len(list_intersect(q.sh, c.sh))::DOUBLE
                     / len(list_distinct(list_concat(q.sh, c.sh))) AS jaccard
            FROM s q JOIN s c
              ON q.doc_id % 7 = 0 AND c.doc_id % 7 <> 0
            WHERE len(list_intersect(q.sh, c.sh))::DOUBLE
                    / len(list_distinct(list_concat(q.sh, c.sh))) >= 0.5
            ORDER BY query_id, corpus_id
        """,
        "q45_token_budget_mix": """
            WITH t AS (
              SELECT lang, doc_id, n_chars,
                     len(list_filter(string_split(text, ' '),
                                     x -> x <> '')) AS toks
              FROM documents),
            r AS (
              SELECT lang, toks,
                     sum(toks) OVER (PARTITION BY lang
                                     ORDER BY n_chars DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS run
              FROM t)
            SELECT 'budget' AS leg, lang, count(*) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS sum_tokens,
                   0.0 AS sh, 0.0 AS w, 0.0 AS ep
            FROM r WHERE run <= 2000
            GROUP BY lang
            UNION ALL
            SELECT 'mix' AS leg, lang, CAST(0 AS BIGINT) AS n_docs,
                   mass AS sum_tokens, sh, w,
                   round(10000 * w / mass, 6) AS ep
            FROM (
              SELECT lang, CAST(sum(toks) AS BIGINT) AS mass,
                     round(sum(toks) / sum(sum(toks)) OVER (), 6) AS sh,
                     round(pow(CAST(sum(toks) AS DOUBLE), 0.3)
                           / sum(pow(CAST(sum(toks) AS DOUBLE), 0.3))
                               OVER (), 6) AS w
              FROM t GROUP BY lang)
            UNION ALL
            SELECT 'dsir' AS leg, lang,
                   CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_docs,
                   CAST(sum(n_pos) AS BIGINT) AS sum_tokens,
                   round(max(score), 6) AS sh,
                   round(avg(score), 6) AS w,
                   round(min(score), 6) AS ep
            FROM (
              WITH tt AS (SELECT doc_id, lang,
                                 list_filter(string_split(text, ' '),
                                             x -> x <> '') AS toks
                          FROM documents),
              f AS (SELECT doc_id, lang, unnest(list_concat(toks,
                           list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' '
                                               || toks[i+1]))) AS f
                    FROM tt),
              fb AS (SELECT doc_id, lang,
                            ('0x' || substr(md5(f), 1, 15))::BIGINT % 64
                              AS b
                     FROM f),
              bt AS (SELECT b, count(*) AS cr,
                            sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                              AS ct
                     FROM fb GROUP BY b),
              r AS (SELECT b,
                           ln((ct + 0.5) / (sum(ct) OVER () + 0.5 * 64))
                           - ln((cr + 0.5) / (sum(cr) OVER () + 0.5 * 64))
                             AS llr
                    FROM bt)
              SELECT doc_id, any_value(lang) AS lang,
                     sum(CASE WHEN llr > 0 THEN 1 ELSE 0 END) AS n_pos,
                     round(sum(llr) / count(*), 6) AS score
              FROM fb JOIN r USING (b)
              GROUP BY doc_id)
            GROUP BY lang
            ORDER BY leg, lang
        """,
        "q46_session_ndv": """
            WITH m AS (
              SELECT event_type, user_id, value, ts,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY event_type
                                                  ORDER BY ts)
                            >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS brk
              FROM events),
            s AS (
              SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
            SELECT event_type,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(DISTINCT user_id) AS ndv,
                   count(*) AS t_rows,
                   round(sum(value), 6) AS t_sum,
                   count(DISTINCT user_id) AS t_ndv
            FROM s GROUP BY event_type, sid
            ORDER BY event_type, session_start
        """,
                "q48_decontamination": """
            WITH g AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, len(t)-2),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                              || ' ' || t[i+3]))) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents)),
            bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 11 = 0),
            gram AS (
              SELECT 'gram' AS leg, g.doc_id AS id,
                     count(DISTINCT g.g) AS v
              FROM g JOIN bench USING (g)
              WHERE g.doc_id % 11 <> 0
              GROUP BY g.doc_id),
            emb AS (
              SELECT 'emb' AS leg, vec_id AS id,
                     CAST(bench_id AS BIGINT) AS v
              FROM (
                SELECT a.vec_id, b.vec_id AS bench_id,
                       row_number() OVER (
                         PARTITION BY a.vec_id
                         ORDER BY list_cosine_similarity(
                             CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) DESC,
                         b.vec_id) AS rn
                FROM embeddings a
                JOIN embeddings b ON b.vec_id % 13 = 0
                WHERE a.vec_id % 13 <> 0 AND a.vec_id < 400
              ) WHERE rn = 1)
            SELECT leg, CAST(id AS BIGINT) AS id, v FROM gram
            UNION ALL
            SELECT leg, CAST(id AS BIGINT) AS id, v FROM emb
            ORDER BY leg, id
        """,
        "q49_asof_attribution": """
            WITH bk AS (
              SELECT l.user_id, count(*) AS n_clicks,
                     count(r.ts) AS n_matched,
                     CAST(sum(epoch_us(l.ts) - epoch_us(r.ts)) AS BIGINT)
                       AS gap_us,
                     count(CASE WHEN epoch_us(l.ts) - epoch_us(r.ts)
                                     <= 3600000000 THEN 1 END) AS extra
              FROM (SELECT * FROM events WHERE event_type = 'click') l
              ASOF LEFT JOIN
                   (SELECT * FROM events WHERE event_type = 'signup') r
                ON l.user_id = r.user_id AND l.ts >= r.ts
              GROUP BY l.user_id),
            lc AS (SELECT * FROM events WHERE event_type = 'click'),
            rs AS (SELECT * FROM events WHERE event_type = 'signup'),
            cand AS (
              SELECT lc.event_id AS lid, lc.user_id,
                     abs(epoch_us(lc.ts) - epoch_us(rs.ts)) AS gap,
                     row_number() OVER (PARTITION BY lc.event_id
                       ORDER BY abs(epoch_us(lc.ts) - epoch_us(rs.ts)),
                                CASE WHEN rs.ts <= lc.ts THEN 0 ELSE 1 END
                     ) AS rnk
              FROM lc JOIN rs ON lc.user_id = rs.user_id),
            best AS (SELECT lid, gap FROM cand WHERE rnk = 1),
            nr AS (
              SELECT lc.user_id, count(*) AS n_clicks,
                     count(best.gap) AS n_matched,
                     CAST(sum(best.gap) AS BIGINT) AS gap_us,
                     CAST(0 AS BIGINT) AS extra
              FROM lc LEFT JOIN best ON lc.event_id = best.lid
              GROUP BY lc.user_id)
            SELECT 'backward' AS leg, user_id, n_clicks, n_matched,
                   gap_us, extra
            FROM bk
            UNION ALL
            SELECT 'nearest' AS leg, user_id, n_clicks, n_matched,
                   gap_us, extra
            FROM nr
            ORDER BY leg, user_id
        """,
        # Same regex chain as functions/redact.py::PII_PATTERNS, written in
        # the Java-regex/RE2 common subset so both engines match byte-4-byte.
        "q50_pii_redaction": r"""
            WITH t0 AS (
              SELECT event_id,
                     'contact user' || user_id || ' at user' || user_id ||
                     '@example.com or http://ex.com/u/' || user_id ||
                     ' ip 10.1.' || (user_id % 200) || '.7 call +1-555-' ||
                     lpad(CAST(user_id AS VARCHAR), 4, '0') || ' ref ' ||
                     props AS t
              FROM events WHERE event_id < 200),
            s1 AS (SELECT event_id, t,
                     len(regexp_extract_all(t, 'https?://[^\s]+'))
                       AS n_url,
                     regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g')
                       AS t1 FROM t0),
            s2 AS (SELECT *,
                     len(regexp_extract_all(t1,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS n_email,
                     regexp_replace(t1,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t2 FROM s1),
            s3 AS (SELECT *,
                     len(regexp_extract_all(t2,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
                     regexp_replace(t2,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                       '<IP>', 'g') AS t3 FROM s2),
            s4 AS (SELECT *,
                     len(regexp_extract_all(t3, '\+?\d[\d\- ]{7,}\d'))
                       AS n_phone,
                     regexp_replace(t3, '\+?\d[\d\- ]{7,}\d',
                       '<PHONE>', 'g') AS t4 FROM s3)
            SELECT 'direct' AS leg, event_id, md5(t4) AS h,
                   n_url, n_email, n_ip, n_phone
            FROM s4
            UNION ALL
            -- r15 'warc' leg: the crawl chain must reproduce the
            -- markup-free texts byte-identically, so the oracle is the
            -- SAME redaction over the SAME subset
            SELECT 'warc' AS leg, event_id, md5(t4) AS h,
                   n_url, n_email, n_ip, n_phone
            FROM s4
            WHERE NOT regexp_matches(t, '[<>&\t\n\r]')
              AND NOT contains(t, '  ') AND t = trim(t)
            ORDER BY leg, event_id
        """,
                "q52_rollup_lifecycle": """
            SELECT 'window' AS leg, 'w1' AS k,
                   quantile_disc(value, 0.5) AS p50,
                   quantile_disc(value, 0.95) AS p95,
                   count(DISTINCT user_id) AS ndv
            FROM events
            WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-03'
              AND date_trunc('day', ts) <  TIMESTAMP '2024-01-10'
            UNION ALL
            SELECT 'window' AS leg, 'w2' AS k,
                   quantile_disc(value, 0.5) AS p50,
                   quantile_disc(value, 0.95) AS p95,
                   count(DISTINCT user_id) AS ndv
            FROM events
            WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-15'
              AND date_trunc('day', ts) <  TIMESTAMP '2024-01-29'
            UNION ALL
            SELECT 'refresh' AS leg, event_type AS k,
                   quantile_disc(value, 0.5) AS p50,
                   CAST(NULL AS DOUBLE) AS p95,
                   count(DISTINCT user_id) AS ndv
            FROM events
            WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-08'
              AND date_trunc('day', ts) <  TIMESTAMP '2024-01-22'
            GROUP BY event_type
            ORDER BY leg, k
        """,
        # Closed-form aHash of the two-tone construction (see the query
        # docstring); n_variants counts the distinct (a, b, noise) byte
        # variants the md5 distinguishes on the Spark side.
        "q53_phash_dedup": """
            WITH t AS (
              SELECT doc_id, (doc_id % 16) * 16 AS a,
                     ((doc_id * 3) % 16) * 16 AS b,
                     CASE WHEN (doc_id % 16) <> ((doc_id * 3) % 16)
                          THEN doc_id % 2 ELSE 0 END AS noise
              FROM documents)
            SELECT CASE WHEN a > b THEN 'f0f0f0f0f0f0f0f0'
                        WHEN a < b THEN '0f0f0f0f0f0f0f0f'
                        ELSE '0000000000000000' END AS phash,
                   count(*) AS n_docs,
                   count(DISTINCT a * 1000 + b * 10 + noise) AS n_variants,
                   min(doc_id) AS min_doc
            FROM t GROUP BY 1 ORDER BY 1
        """,
        "q54_ivf_index_query": """
            SELECT q AS query_id, r AS rank, nb AS neighbor_id FROM (
              SELECT a.vec_id q, b.vec_id nb,
                     row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) r
              FROM embeddings a
              JOIN embeddings b ON a.vec_id < 10 AND b.vec_id != a.vec_id
            ) WHERE r <= 5 ORDER BY query_id, rank
        """,
        "q55_cross_state_estimates": """
            WITH t AS (SELECT DISTINCT event_type FROM events),
            c AS (SELECT event_type, user_id, count(*) n
                  FROM events GROUP BY 1, 2),
            p AS (SELECT a.event_type ta, b.event_type tb,
                         sum(a.n * b.n) s
                  FROM c a JOIN c b ON a.user_id = b.user_id
                                    AND a.event_type < b.event_type
                  GROUP BY 1, 2),
            js AS (
              SELECT 'joinsize' AS leg, x.event_type AS ka,
                     y.event_type AS kb,
                     CAST(COALESCE(p.s, 0) AS DOUBLE) AS v
              FROM t x JOIN t y ON x.event_type < y.event_type
              LEFT JOIN p ON p.ta = x.event_type AND p.tb = y.event_type),
            u AS (
              SELECT event_type, value,
                     CASE WHEN date_trunc('day', ts) <
                               TIMESTAMP '2024-01-15' THEN 1 ELSE 0
                     END AS ia
              FROM events
              WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-01'
                AND date_trunc('day', ts) <  TIMESTAMP '2024-01-29'),
            n AS (SELECT event_type, sum(ia) na, sum(1 - ia) nb
                  FROM u GROUP BY 1),
            s2 AS (SELECT event_type, value,
                          sum(ia) OVER (PARTITION BY event_type
                                        ORDER BY value) ca,
                          sum(1 - ia) OVER (PARTITION BY event_type
                                            ORDER BY value) cb
                   FROM u),
            ks AS (
              SELECT 'ks' AS leg, s2.event_type AS ka, '' AS kb,
                     max(abs(CAST(ca AS DOUBLE) / na
                             - CAST(cb AS DOUBLE) / nb)) AS v
              FROM s2 JOIN n ON s2.event_type = n.event_type
              GROUP BY s2.event_type),
            -- tuple leg: per-key summaries recomputed relationally
            -- (exact regime: every key retained)
            pk AS (SELECT event_type, user_id, count(*) AS c,
                          COALESCE(sum(floor(value * 100)), 0) AS s
                   FROM events WHERE user_id IS NOT NULL
                   GROUP BY 1, 2),
            ta AS (SELECT event_type,
                          CAST(count(*) AS DOUBLE) AS ndv,
                          CAST(sum(c) AS DOUBLE) AS rws,
                          CAST(sum(s) AS DOUBLE) AS vsum,
                          CAST(count(CASE WHEN c >= 20 THEN 1 END)
                               AS DOUBLE) AS seg_keys,
                          CAST(COALESCE(sum(CASE WHEN c >= 20 THEN s END),
                                        0) AS DOUBLE) AS seg_sum
                   FROM pk GROUP BY event_type),
            tp AS (
              SELECT 'tuple' AS leg, event_type AS ka, 'ndv' AS kb,
                     ndv AS v FROM ta
              UNION ALL
              SELECT 'tuple', event_type, 'rows', rws FROM ta
              UNION ALL
              SELECT 'tuple', event_type, 'vsum', vsum FROM ta
              UNION ALL
              SELECT 'tuple', event_type, 'seg_keys', seg_keys FROM ta
              UNION ALL
              SELECT 'tuple', event_type, 'seg_sum', seg_sum FROM ta)
            SELECT * FROM js UNION ALL SELECT * FROM ks
            UNION ALL SELECT * FROM tp
            ORDER BY leg, ka, kb
        """,
        # Two-sample KS via cumulative counts: DuckDB's default window
        # frame with ORDER BY is RANGE ... CURRENT ROW, so ties are
        # included — F(v) is the right-inclusive ECDF, evaluated at every
        # jump point of either sample (where the sup of two step
        # functions is attained).
                        "q58_streaming_windowed_evict": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   quantile_disc(value, 0.5) AS p50_value
            FROM events GROUP BY 1 ORDER BY day
        """,
                        "q66_streaming_summary_sink": """
            SELECT event_type,
                   quantile_disc(value, 0.5) AS p50_value
            FROM events GROUP BY event_type ORDER BY event_type
        """,
                                # The fixture text is already lowercase/single-spaced, so
        # normalize(roughed) == original text and the normalized
        # fingerprint is md5(text) exactly.
                "q60_rollup_algebra_sample": """
            WITH w1 AS (
              SELECT DISTINCT event_type, user_id FROM events
              WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-01'
                AND date_trunc('day', ts) <  TIMESTAMP '2024-01-08'),
            w2 AS (
              SELECT DISTINCT event_type, user_id FROM events
              WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-08'
                AND date_trunc('day', ts) <  TIMESTAMP '2024-01-15'),
            i AS (SELECT w1.event_type, count(*) c
                  FROM w1 JOIN w2 USING (event_type, user_id)
                  GROUP BY 1),
            n1 AS (SELECT event_type, count(*) c FROM w1 GROUP BY 1),
            n2 AS (SELECT event_type, count(*) c FROM w2 GROUP BY 1),
            so AS (
              SELECT 'setops' AS leg, n1.event_type,
                     CAST(COALESCE(i.c, 0) AS BIGINT) AS n, '' AS h,
                     CAST(COALESCE(i.c, 0) AS DOUBLE)
                       / (n1.c + n2.c - COALESCE(i.c, 0)) AS jaccard
              FROM n1 JOIN n2 USING (event_type)
              LEFT JOIN i USING (event_type)),
            sa AS (
              SELECT 'sample' AS leg, event_type,
                     count(*) AS n,
                     md5(array_to_string(list_sort(list(event_id)), ','))
                       AS h,
                     CAST(NULL AS DOUBLE) AS jaccard
              FROM events
              WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-08'
                AND date_trunc('day', ts) <  TIMESTAMP '2024-01-15'
              GROUP BY event_type)
            SELECT * FROM so UNION ALL SELECT * FROM sa
            ORDER BY leg, event_type
        """,
                "q62_error_bounds": """
            SELECT 'quantile' AS leg, l_returnflag AS k,
                   CAST(quantile_disc(l_extendedprice, 0.93) AS DOUBLE)
                     AS lo,
                   CAST(quantile_disc(l_extendedprice, 0.97) AS DOUBLE)
                     AS hi,
                   CAST(1 AS BIGINT) AS extra
            FROM lineitem GROUP BY l_returnflag
            UNION ALL
            SELECT 'ndv' AS leg, event_type AS k,
                   CAST(count(DISTINCT user_id) AS DOUBLE) AS lo,
                   CAST(count(DISTINCT user_id) AS DOUBLE) AS hi,
                   CAST(0 AS BIGINT) AS extra
            FROM events GROUP BY event_type
            UNION ALL
            -- estimation-regime NDV: lo = exact NDV; hi = 1 iff the
            -- engine HLL (lgk=12) must have densified (NDV > 2^(lgk-3));
            -- extra = the engine's own 3-sigma coverage boolean, pinned
            SELECT 'ndv_est' AS leg, event_type AS k,
                   CAST(count(DISTINCT event_id) AS DOUBLE) AS lo,
                   CASE WHEN count(DISTINCT event_id) > 512
                        THEN 1.0 ELSE 0.0 END AS hi,
                   CAST(1 AS BIGINT) AS extra
            FROM events GROUP BY event_type
            UNION ALL
            -- estimation-regime quantile: exact values at ranks .93/.97;
            -- extra = engine KLL(k=200) p95 estimate inside that window
            SELECT 'quantile_est' AS leg, l_returnflag AS k,
                   CAST(quantile_disc(l_extendedprice, 0.93) AS DOUBLE)
                     AS lo,
                   CAST(quantile_disc(l_extendedprice, 0.97) AS DOUBLE)
                     AS hi,
                   CAST(1 AS BIGINT) AS extra
            FROM lineitem GROUP BY l_returnflag
            UNION ALL
            -- estimation-regime freq-items (Misra-Gries past exact,
            -- max_map_size=64 < NDV): hi = a purge certainly happened;
            -- extra = every reported estimate in [true, true+maxerr]
            SELECT 'freq_est' AS leg, event_type AS k,
                   CAST(count(DISTINCT CASE WHEN user_id % 10 = 0
                              THEN user_id % 3 ELSE user_id END)
                        AS DOUBLE) AS lo,
                   CASE WHEN count(DISTINCT CASE WHEN user_id % 10 = 0
                                   THEN user_id % 3 ELSE user_id END) > 64
                        THEN 1.0 ELSE 0.0 END AS hi,
                   CAST(1 AS BIGINT) AS extra
            FROM events GROUP BY event_type
            UNION ALL
            -- estimation-regime tuple/KMV (k=64 < NDV): hi = bounds
            -- interval non-degenerate at saturation; extra = exact NDV
            -- inside the 3-sigma KMV envelope AND segment(1)==estimate
            SELECT 'tuple_est' AS leg, event_type AS k,
                   CAST(count(DISTINCT user_id) AS DOUBLE) AS lo,
                   CASE WHEN count(DISTINCT user_id) > 64
                        THEN 1.0 ELSE 0.0 END AS hi,
                   CAST(1 AS BIGINT) AS extra
            FROM events GROUP BY event_type
            UNION ALL
            -- Bloom membership guarantees: no false negatives, FP rate
            -- on a disjoint probe set inside the design envelope,
            -- fill-ratio NDV estimate within 10% of exact
            SELECT 'bloom' AS leg, event_type AS k,
                   1.0 AS lo, 1.0 AS hi, CAST(1 AS BIGINT) AS extra
            FROM events GROUP BY event_type
            UNION ALL
            -- estimation-regime EXTREMES (r16): the sketch's rank-0/1
            -- answers must equal the exact MIN/MAX even after
            -- compaction (tracked stream extrema); extra = the state
            -- left the exact regime (count far past the k=64
            -- capacity of ~192 retained items)
            SELECT 'extremes_est' AS leg, l_returnflag AS k,
                   CAST(min(l_extendedprice) AS DOUBLE) AS lo,
                   CAST(max(l_extendedprice) AS DOUBLE) AS hi,
                   CAST(CASE WHEN count(*) > 1000 THEN 1 ELSE 0 END
                        AS BIGINT) AS extra
            FROM lineitem GROUP BY l_returnflag
            ORDER BY leg, k
        """,
                    }


def demo_oracle_sql() -> dict[str, str]:
    """DuckDB oracles for demo_queries() (pytest-gated; see there)."""
    return {
        "demo_percentile_multi": """
            SELECT l_returnflag, l_linestatus,
                   quantile_disc(l_extendedprice, 0.25) AS p25,
                   quantile_disc(l_extendedprice, 0.50) AS p50,
                   quantile_disc(l_extendedprice, 0.75) AS p75,
                   quantile_disc(l_extendedprice, 0.95) AS p95
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "demo_freqitems_long": """
            SELECT l_suppkey AS item, count(*) AS estimated
            FROM lineitem GROUP BY l_suppkey
            ORDER BY estimated DESC, item LIMIT 10
        """,
        "demo_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
                   count(*) AS count_order,
                   quantile_disc(l_quantity, 0.9) AS p90_qty
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "demo_multimodal": """
            SELECT source, count(*) AS n_assets,
                   CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                   max(octet_length(encode(text))) AS max_bytes
            FROM documents GROUP BY source ORDER BY source
        """,
        "demo_set_overlap": """
            WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
            cnt AS (SELECT event_type, count(*) n FROM s GROUP BY 1),
            com AS (SELECT a.event_type ta, b.event_type tb, count(*) c
                    FROM s a JOIN s b ON a.user_id = b.user_id
                                      AND a.event_type < b.event_type
                    GROUP BY 1, 2)
            SELECT ca.event_type AS type_a, cb.event_type AS type_b,
                   COALESCE(com.c, 0) AS common_users,
                   COALESCE(com.c, 0)::DOUBLE
                     / (ca.n + cb.n - COALESCE(com.c, 0)) AS jaccard
            FROM cnt ca JOIN cnt cb ON ca.event_type < cb.event_type
            LEFT JOIN com ON com.ta = ca.event_type AND com.tb = cb.event_type
            ORDER BY type_a, type_b
        """,
        "demo_bm25_tuned": """
            WITH q(query_id, term) AS (VALUES
              ('qa','table'), ('qa','data'), ('qa','group'),
              ('qb','big'), ('qb','small'), ('qb','line')),
            lens AS (SELECT doc_id,
                            list_filter(string_split(text, ' '),
                                        x -> x <> '') AS t
                     FROM documents),
            stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl
                      FROM lens),
            tf AS (SELECT doc_id, dl, term, count(*) AS tf
                   FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term
                         FROM lens)
                   JOIN (SELECT DISTINCT term FROM q) USING (term)
                   GROUP BY doc_id, dl, term),
            dfq AS (SELECT doc_id, dl, term, tf,
                           count(*) OVER (PARTITION BY term) AS df
                    FROM tf),
            sc AS (SELECT q.query_id, dfq.doc_id,
                          round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                                    * tf * 3.0
                                    / (tf + 2.0 * (0.5
                                                   + 0.5 * dl / avgdl))),
                                6) AS score
                   FROM dfq JOIN q USING (term) CROSS JOIN stats
                   GROUP BY 1, 2)
            SELECT query_id, doc_id, rank, score
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY score DESC,
                                                        doc_id) AS rank
                  FROM sc)
            WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "demo_spans_k12": """
            WITH t AS (SELECT doc_id,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS toks
                       FROM documents),
            w AS (SELECT doc_id, i - 1 AS pos,
                         array_to_string(toks[i:i+11], ' ') AS g
                  FROM t, unnest(range(1, len(toks) - 10)) AS r(i)),
            nd AS (SELECT doc_id, pos,
                          count(DISTINCT doc_id) OVER (PARTITION BY g)
                            AS ndocs
                   FROM w),
            hits AS (SELECT doc_id, pos FROM nd WHERE ndocs >= 2),
            m AS (SELECT doc_id, pos,
                         max(pos + 12) OVER (PARTITION BY doc_id
                                             ORDER BY pos
                                             ROWS BETWEEN UNBOUNDED
                                             PRECEDING AND 1 PRECEDING)
                           AS run_end
                  FROM hits),
            s AS (SELECT doc_id, pos,
                         sum(CASE WHEN run_end IS NULL OR pos > run_end
                                  THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_idx
                  FROM m)
            SELECT doc_id, span_idx, min(pos) AS span_start,
                   max(pos) + 12 AS span_end, count(*) AS n_windows
            FROM s GROUP BY doc_id, span_idx
            ORDER BY doc_id, span_idx
        """,
        "demo_mixture_sources": """
            SELECT source, mass, sh AS share, w AS weight,
                   round(50000 * w / mass, 6) AS epochs
            FROM (
              SELECT source, CAST(sum(toks) AS BIGINT) AS mass,
                     round(sum(toks) / sum(sum(toks)) OVER (), 6) AS sh,
                     round(pow(CAST(sum(toks) AS DOUBLE), 0.7)
                           / sum(pow(CAST(sum(toks) AS DOUBLE), 0.7))
                               OVER (), 6) AS w
              FROM (SELECT source,
                           len(list_filter(string_split(text, ' '),
                                           x -> x <> '')) AS toks
                    FROM documents)
              GROUP BY source)
            ORDER BY source
        """,
        "demo_semdedup_16": """
            WITH c AS (
              SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000,
                     list_prepend(CAST(embedding AS DOUBLE[])[1] * 1.02,
                                  CAST(embedding AS DOUBLE[])[2:])
              FROM embeddings WHERE vec_id % 2 = 0),
            cents AS (SELECT id AS cid, v AS cv FROM c WHERE id < 16),
            sims AS (SELECT c.id, cents.cid,
                            round(list_cosine_similarity(c.v, cents.cv),
                                  6) AS s
                     FROM c CROSS JOIN cents),
            asg AS (SELECT id, cid, s AS pcos
                    FROM (SELECT *,
                                 row_number() OVER (PARTITION BY id
                                                    ORDER BY s DESC, cid)
                                   AS rn
                          FROM sims)
                    WHERE rn = 1),
            av AS (SELECT a.id, a.cid, a.pcos, c.v
                   FROM asg a JOIN c USING (id)),
            hits AS (SELECT a.cid, a.id AS a_id, a.pcos AS a_pcos,
                            b.id AS b_id
                     FROM av a JOIN av b
                       ON a.cid = b.cid AND a.id <> b.id
                     WHERE (a.pcos < b.pcos
                            OR (a.pcos = b.pcos AND a.id < b.id))
                       AND round(list_cosine_similarity(a.v, b.v), 6)
                           > 0.98)
            SELECT cid AS cluster, a_id AS id_kept, b_id AS id_dropped
            FROM (SELECT *,
                         row_number() OVER (PARTITION BY cid, b_id
                                            ORDER BY a_pcos, a_id) AS rn
                  FROM hits)
            WHERE rn = 1 ORDER BY cluster, id_dropped
        """,
        "demo_profile_events": """
            WITH topv AS (
              SELECT event_type AS val, count(*) AS cnt,
                     row_number() OVER (ORDER BY count(*) DESC,
                                        event_type) AS rn
              FROM events GROUP BY event_type)
            SELECT * FROM (
              SELECT '_table' AS "column", 'rows' AS metric,
                     CAST(count(*) AS DOUBLE) AS num,
                     CAST(NULL AS VARCHAR) AS str FROM events
              UNION ALL
              SELECT 'event_id', 'nulls',
                     CAST(sum(CASE WHEN event_id IS NULL THEN 1
                              ELSE 0 END) AS DOUBLE), NULL FROM events
              UNION ALL
              SELECT 'event_id', 'ndv',
                     CAST(count(DISTINCT event_id) AS DOUBLE), NULL
              FROM events
              UNION ALL
              SELECT 'event_id', 'min', CAST(min(event_id) AS DOUBLE),
                     NULL FROM events
              UNION ALL
              SELECT 'event_id', 'max', CAST(max(event_id) AS DOUBLE),
                     NULL FROM events
              UNION ALL
              SELECT 'event_id', 'p50',
                     CAST(quantile_disc(CAST(event_id AS DOUBLE), 0.5)
                          AS DOUBLE), NULL FROM events
              UNION ALL
              SELECT 'user_id', 'nulls',
                     CAST(sum(CASE WHEN user_id IS NULL THEN 1
                              ELSE 0 END) AS DOUBLE), NULL FROM events
              UNION ALL
              SELECT 'user_id', 'ndv',
                     CAST(count(DISTINCT user_id) AS DOUBLE), NULL
              FROM events
              UNION ALL
              SELECT 'user_id', 'min', CAST(min(user_id) AS DOUBLE),
                     NULL FROM events
              UNION ALL
              SELECT 'user_id', 'max', CAST(max(user_id) AS DOUBLE),
                     NULL FROM events
              UNION ALL
              SELECT 'user_id', 'p50',
                     CAST(quantile_disc(CAST(user_id AS DOUBLE), 0.5)
                          AS DOUBLE), NULL FROM events
              UNION ALL
              SELECT 'value', 'nulls',
                     CAST(sum(CASE WHEN value IS NULL THEN 1
                              ELSE 0 END) AS DOUBLE), NULL FROM events
              UNION ALL
              SELECT 'value', 'ndv',
                     CAST(count(DISTINCT value) AS DOUBLE), NULL
              FROM events
              UNION ALL
              SELECT 'value', 'min', CAST(min(value) AS DOUBLE), NULL
              FROM events
              UNION ALL
              SELECT 'value', 'max', CAST(max(value) AS DOUBLE), NULL
              FROM events
              UNION ALL
              SELECT 'value', 'p50',
                     CAST(quantile_disc(value, 0.5) AS DOUBLE), NULL
              FROM events
              UNION ALL
              SELECT 'event_type', 'nulls',
                     CAST(sum(CASE WHEN event_type IS NULL THEN 1
                              ELSE 0 END) AS DOUBLE), NULL FROM events
              UNION ALL
              SELECT 'event_type', 'ndv',
                     CAST(count(DISTINCT event_type) AS DOUBLE), NULL
              FROM events
              UNION ALL
              SELECT 'event_type', 'top' || rn, CAST(cnt AS DOUBLE), val
              FROM topv WHERE rn <= 3)
            ORDER BY "column", metric, str
        """,
        "demo_span_removal": """
            WITH t AS (SELECT doc_id,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS toks
                       FROM documents),
            w AS (SELECT doc_id, i - 1 AS pos,
                         array_to_string(toks[i:i+7], ' ') AS g
                  FROM t, unnest(range(1, len(toks) - 6)) AS r(i)),
            nd AS (SELECT doc_id, pos,
                          count(DISTINCT doc_id) OVER (PARTITION BY g)
                            AS ndocs
                   FROM w),
            hits AS (SELECT doc_id, pos FROM nd WHERE ndocs >= 2),
            m AS (SELECT doc_id, pos,
                         max(pos + 8) OVER (PARTITION BY doc_id
                                            ORDER BY pos
                                            ROWS BETWEEN UNBOUNDED
                                            PRECEDING AND 1 PRECEDING)
                           AS run_end
                  FROM hits),
            s AS (SELECT doc_id, pos,
                         sum(CASE WHEN run_end IS NULL OR pos > run_end
                                  THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_idx
                  FROM m),
            sp AS (SELECT doc_id, min(pos) AS st, max(pos) + 8 AS en
                   FROM s GROUP BY doc_id, span_idx),
            posn AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
                     FROM t, unnest(range(1, len(toks) + 1)) AS r(i)),
            cutpos AS (SELECT p.doc_id, p.pos
                       FROM posn p JOIN sp
                         ON sp.doc_id = p.doc_id
                        AND p.pos >= sp.st AND p.pos < sp.en),
            kept AS (SELECT p.doc_id, p.pos, p.tok
                     FROM posn p LEFT JOIN cutpos c
                       ON c.doc_id = p.doc_id AND c.pos = p.pos
                     WHERE c.pos IS NULL),
            rebuilt AS (SELECT doc_id,
                               COALESCE(string_agg(tok, ' '
                                                   ORDER BY pos), '')
                                 AS text,
                               count(*) AS n_kept
                        FROM kept GROUP BY doc_id)
            SELECT t.doc_id, md5(COALESCE(r.text, '')) AS h,
                   CAST(len(t.toks) - COALESCE(r.n_kept, 0) AS BIGINT)
                     AS n_removed_tokens
            FROM t LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY t.doc_id
        """,
        "demo_line_dedup": """
            WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
                          FROM documents),
            seg AS (SELECT doc_id,
                           array_to_string(list_transform(
                             range(0, CAST(ceil(len(toks) / 12.0)
                                           AS INT)),
                             i -> array_to_string(
                                    toks[(i*12+1):(i*12+12)], ' ')),
                             chr(10)) AS t
                    FROM base),
            r AS (SELECT doc_id,
                         CASE WHEN doc_id % 2 = 1 THEN upper(t)
                              ELSE t END AS t
                  FROM seg),
            l AS (SELECT doc_id, CAST(u.i AS BIGINT) AS idx,
                         string_split(t, chr(10))[CAST(u.i AS INT)]
                           AS line
                  FROM r, unnest(range(1,
                         len(string_split(t, chr(10))) + 1)) AS u(i)),
            lf AS (SELECT doc_id, idx, line,
                          md5(regexp_replace(trim(lower(line)),
                                             ' +', ' ', 'g')) AS fp
                   FROM l),
            dup AS (SELECT fp FROM lf GROUP BY fp
                    HAVING count(DISTINCT doc_id) >= 2),
            kept AS (SELECT doc_id,
                            count(*) AS n_kept,
                            sum(len(line)) AS kept_chars,
                            string_agg(line, chr(10) ORDER BY idx)
                              AS text_clean
                     FROM lf WHERE fp NOT IN (SELECT fp FROM dup)
                     GROUP BY doc_id),
            stats AS (SELECT doc_id, count(*) AS n_lines,
                             sum(len(line)) AS chars
                      FROM lf GROUP BY doc_id)
            SELECT s.doc_id,
                   md5(COALESCE(k.text_clean, '')) AS h,
                   CAST(s.n_lines AS BIGINT) AS n_lines,
                   CAST(s.n_lines - COALESCE(k.n_kept, 0) AS BIGINT)
                     AS n_removed,
                   CAST(s.chars - COALESCE(k.kept_chars, 0) AS BIGINT)
                     AS chars_removed
            FROM stats s LEFT JOIN kept k USING (doc_id)
            ORDER BY s.doc_id
        """,
        "demo_hard_negatives": """
            WITH q(qid, term, qslot) AS (VALUES
              ('q1','spark',0), ('q1','window',0), ('q1','merge',0),
              ('q2','customer',1), ('q2','order',1), ('q2','join',1),
              ('q3','stream',2), ('q3','filter',2), ('q3','vector',2),
              ('q3','hash',2)),
            lens AS (SELECT doc_id,
                            list_filter(string_split(text, ' '),
                                        x -> x <> '') AS t
                     FROM documents),
            stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl
                      FROM lens),
            tf AS (SELECT doc_id, dl, term, count(*) AS tf
                   FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term
                         FROM lens)
                   JOIN (SELECT DISTINCT term FROM q) USING (term)
                   GROUP BY doc_id, dl, term),
            dfq AS (SELECT doc_id, dl, term, tf,
                           count(*) OVER (PARTITION BY term) AS df
                    FROM tf),
            sc AS (SELECT q.qid, any_value(q.qslot) AS qslot,
                          dfq.doc_id,
                          round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                                    * tf * 2.2
                                    / (tf + 1.2 * (0.25
                                                   + 0.75 * dl / avgdl))),
                                6) AS score
                   FROM dfq JOIN q USING (term) CROSS JOIN stats
                   GROUP BY q.qid, dfq.doc_id)
            SELECT qid AS query_id, doc_id, rank, score FROM (
              SELECT qid, doc_id,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY score DESC, doc_id)
                       AS rank,
                     score
              FROM sc WHERE doc_id % 3 <> qslot)
            WHERE rank <= 8
            ORDER BY query_id, rank
        """,
        # planted carry-over batch: the Bloom prefilter + exact verify
        # must return exactly the fingerprint semi-join
        "demo_bloom_prefilter": """
            WITH corpus AS (SELECT doc_id, text FROM documents
                            WHERE doc_id >= 100),
                 carry AS (SELECT doc_id + 100000 AS doc_id, text
                           FROM corpus WHERE doc_id < 300),
                 fresh AS (SELECT doc_id + 200000 AS doc_id,
                                  text || ' UNIQ' AS text
                           FROM documents WHERE doc_id < 100),
                 inc AS (SELECT * FROM carry
                         UNION ALL SELECT * FROM fresh)
            SELECT i.doc_id, md5(i.text) AS fingerprint
            FROM inc i
            WHERE md5(i.text) IN (SELECT md5(text) FROM corpus)
            ORDER BY doc_id
        """,
        # domain-level curation: stats -> drop rules -> filter -> cap,
        # every ratio one integer division, rounds AFTER the division
        "demo_domain_curation": """
            WITH corpus AS (
                SELECT doc_id, text, source, n_chars FROM documents
                UNION ALL
                SELECT doc_id + 100000, text, source, n_chars
                FROM documents WHERE source = 'src1'),
            tok AS (
                SELECT doc_id, source, n_chars, md5(text) AS fp,
                       len(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS nt,
                       len(list_filter(string_split(text, ' '),
                           x -> x <> ''
                                AND regexp_matches(x, '[a-zA-Z]')))
                         AS na
                FROM corpus),
            stats AS (
                SELECT source AS domain,
                       count(*) AS n_docs,
                       count(DISTINCT fp) AS n_unique,
                       CAST(sum(nt) AS BIGINT) AS n_tokens,
                       sum(CASE WHEN nt >= 40 AND nt <= 100000
                                 AND CAST(na AS DOUBLE) / nt >= 0.8
                                THEN 1 ELSE 0 END) AS n_ok
                FROM tok GROUP BY source),
            drops AS (
                SELECT domain FROM stats
                WHERE domain = 'src2'
                   OR (1.0 - CAST(n_unique AS DOUBLE) / n_docs) > 0.25),
            capped AS (
                SELECT source, doc_id FROM (
                    SELECT source, doc_id,
                           row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
                    FROM corpus
                    WHERE source NOT IN (SELECT domain FROM drops))
                WHERE rn <= 3),
            kc AS (SELECT source AS domain,
                          CAST(count(*) AS BIGINT) AS n_capped,
                          CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
                   FROM capped GROUP BY source)
            SELECT s.domain,
                   CAST(s.n_docs AS BIGINT) AS n_docs,
                   CAST(s.n_unique AS BIGINT) AS n_unique,
                   -- theta NDV in its exact regime (per-domain NDV <<
                   -- k=4096: every hash retained) IS the distinct count
                   CAST(s.n_unique AS BIGINT) AS n_unique_theta,
                   round(1.0 - CAST(s.n_unique AS DOUBLE) / s.n_docs, 6)
                     AS dup_frac,
                   s.n_tokens,
                   round(CAST(s.n_ok AS DOUBLE) / s.n_docs, 6)
                     AS pass_frac,
                   kc.n_capped, kc.kept_id_sum
            FROM stats s JOIN kc USING (domain)
            ORDER BY domain
        """,
        # interpolated trigram LM: identical IEEE trees, weights as
        # exact Python-float reprs, round(6) AFTER all arithmetic
        "demo_trigram_ppl": """
            WITH tok AS (SELECT doc_id,
                                list_filter(string_split(text, ' '),
                                            x -> x <> '') AS ts
                         FROM documents),
            term AS (SELECT doc_id,
                            unnest(generate_series(1, len(ts))) AS i, ts
                     FROM tok),
            pos AS (SELECT doc_id, i, ts[i] AS w,
                           CASE WHEN i >= 2 THEN ts[i-1] END AS pw,
                           CASE WHEN i >= 2
                                THEN ts[i-1] || ' ' || ts[i] END AS bg,
                           CASE WHEN i >= 3
                                THEN ts[i-2] || ' ' || ts[i-1] END AS ab,
                           CASE WHEN i >= 3
                                THEN ts[i-2] || ' ' || ts[i-1] || ' '
                                     || ts[i] END AS tg
                    FROM term),
            uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
                    FROM pos GROUP BY w),
            bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
                   FROM pos WHERE bg IS NOT NULL GROUP BY bg),
            tri AS (SELECT tg, CAST(count(*) AS BIGINT) AS c3
                    FROM pos WHERE tg IS NOT NULL GROUP BY tg),
            st AS (SELECT CAST(count(*) AS BIGINT) AS v,
                          CAST(sum(c1) AS BIGINT) AS tot
                   FROM uni),
            sc AS (SELECT p.doc_id,
                     CASE
                       WHEN p.i = 1 THEN
                         -ln((COALESCE(u1.c1, 0) + 0.5)
                             / (s.tot + 0.5 * s.v))
                       WHEN p.i = 2 THEN
                         -ln(0.7999999999999999
                               * ((COALESCE(b2.c2, 0) + 0.5)
                                  / (COALESCE(up.c1, 0) + 0.5 * s.v))
                             + 0.2 * ((COALESCE(u1.c1, 0) + 0.5)
                                      / (s.tot + 0.5 * s.v)))
                       ELSE
                         -ln(0.5 * ((COALESCE(t3.c3, 0) + 0.5)
                                    / (COALESCE(bab.c2, 0) + 0.5 * s.v))
                             + 0.3 * ((COALESCE(b2.c2, 0) + 0.5)
                                      / (COALESCE(up.c1, 0) + 0.5 * s.v))
                             + 0.2 * ((COALESCE(u1.c1, 0) + 0.5)
                                      / (s.tot + 0.5 * s.v)))
                     END AS nll,
                     CASE WHEN p.i = 1 THEN COALESCE(u1.c1, 0)
                          WHEN p.i = 2 THEN COALESCE(b2.c2, 0)
                          ELSE COALESCE(t3.c3, 0) END AS hc
                   FROM pos p
                   LEFT JOIN uni u1 ON p.w = u1.w
                   LEFT JOIN uni up ON p.pw = up.w
                   LEFT JOIN bi b2 ON p.bg = b2.bg
                   LEFT JOIN bi bab ON p.ab = bab.bg
                   LEFT JOIN tri t3 ON p.tg = t3.tg
                   CROSS JOIN st s
                   WHERE p.doc_id < 150)
            SELECT doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(CASE WHEN hc = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov_terms,
                   round(sum(nll) / count(*), 6) AS avg_nll,
                   round(exp(sum(nll) / count(*)), 6) AS ppl
            FROM sc GROUP BY doc_id ORDER BY doc_id
        """,
        # URL canonicalization replayed step-by-step (functions/urls.py
        # module docstring order); RE2 backrefs are \1
        "demo_url_dedup_groups": r"""
            WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 400),
            u AS (SELECT doc_id,
                    CASE CAST(doc_id % 4 AS INT)
                      WHEN 0 THEN 'https://WWW.h' || (doc_id//4 % 10)
                        || '.Example.com:443/a/' || (doc_id//4)
                        || '/?utm_source=x&b=2&a=1#frag'
                      WHEN 1 THEN 'https://h' || (doc_id//4 % 10)
                        || '.example.com/a/' || (doc_id//4) || '?a=1&b=2'
                      WHEN 2 THEN 'https://Sub.h' || (doc_id//4 % 10)
                        || '.co.uk/q/' || (doc_id//4)
                      ELSE 'https://h' || (doc_id//4 % 10)
                        || '.example.com/a/' || (doc_id//4)
                        || '?gclid=9&b=2&a=1'
                    END AS url FROM ids),
            c1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '')
                     AS nofrag FROM u),
            c2 AS (SELECT doc_id, nofrag,
                     regexp_extract(nofrag,
                       '^([^:/?#]+://(?:[^@/?#]*@)?[^/?#]*)', 1) AS prefix
                   FROM c1),
            c3 AS (SELECT doc_id,
                     substr(nofrag, length(prefix) + 1) AS rest,
                     regexp_replace(regexp_replace(regexp_replace(
                         lower(prefix),
                         '^(https?://)www\.', '\1'),
                         '^(http://[^/:?#]*):80$', '\1'),
                         '^(https://[^/:?#]*):443$', '\1') AS auth,
                     lower(regexp_extract(nofrag,
                       '^[^:/?#]+://(?:[^@/?#]*@)?([^/:?#]*)', 1)) AS host
                   FROM c2),
            c4 AS (SELECT doc_id, auth, host,
                     regexp_replace(regexp_replace(rest, '\?.*$', ''),
                                    '/+$', '') AS path,
                     CASE WHEN contains(rest, '?')
                          THEN regexp_replace(rest, '^[^?]*\?', '')
                          ELSE '' END AS qs
                   FROM c3),
            c5 AS (SELECT doc_id, host,
                     auth || path
                       || CASE WHEN q = '' THEN '' ELSE '?' || q END AS cu
                   FROM (SELECT *, COALESCE(array_to_string(list_sort(
                           list_filter(string_split(qs, '&'),
                           p -> p <> '' AND NOT regexp_matches(p,
                             '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=.*)?$')
                           )), '&'), '') AS q
                         FROM c4)),
            rdom AS (SELECT doc_id, cu,
                       CASE WHEN len(ls) >= 3 AND
                                 array_to_string(ls[-2:], '.') = 'co.uk'
                            THEN array_to_string(ls[-3:], '.')
                            WHEN len(ls) >= 2
                            THEN array_to_string(ls[-2:], '.')
                            ELSE host END AS rd,
                       -- PSL fixture replay (rules: com, uk, co.uk,
                       -- *.co.uk, !h3.co.uk): exception first, then the
                       -- wildcard (ps = 3 labels -> rd = 4), then plain
                       -- rules / the implicit default '*' (rd = 2)
                       CASE WHEN len(ls) >= 3 AND
                                 array_to_string(ls[-3:], '.') = 'h3.co.uk'
                            THEN 'h3.co.uk'
                            WHEN array_to_string(ls[-2:], '.') = 'co.uk'
                            THEN CASE WHEN len(ls) >= 4
                                      THEN array_to_string(ls[-4:], '.')
                                      ELSE NULL END
                            WHEN len(ls) >= 2
                            THEN array_to_string(ls[-2:], '.')
                            ELSE NULL END AS rd_psl,
                       -- r14 bundled-snapshot replay over the url2
                       -- family: private suffix (github.io), city
                       -- exception (!city.kawasaki.jp), wildcard
                       -- (*.ck -> bar.ck is public), implicit '*'
                       CASE CAST(doc_id % 4 AS INT)
                         WHEN 0 THEN 'user' || (doc_id//4) || '.github.io'
                         WHEN 1 THEN 'city.kawasaki.jp'
                         WHEN 2 THEN 'h' || (doc_id//4 % 10) || '.bar.ck'
                         ELSE 'ex' || (doc_id//4) || '.unknowntld'
                       END AS rd_b
                     FROM (SELECT doc_id, cu, host,
                                  string_split(host, '.') AS ls FROM c5))
            SELECT rd, rd_psl, rd_b, cu, CAST(count(*) AS BIGINT) AS n,
                   min(doc_id) AS min_id
            FROM rdom GROUP BY rd, rd_psl, rd_b, cu
            ORDER BY rd, rd_psl, rd_b, cu
        """,
        # epoch_seed(42, 1) = 42 * 1000003 + 1 = 42000127
        "demo_epoch_order": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                     ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42000127'),
                              doc_id) - 1 AS BIGINT) AS shuffle_pos
            FROM documents
            QUALIFY doc_id < 300
            ORDER BY doc_id
        """,
        # demo_webp_lossy: VP8 decode is exactly specified, so the
        # decoded-pixel md5s of the committed fixtures are literals
        # (pinned at fixture-generation time; see the demo docstring)
        "demo_webp_lossy": """
            SELECT * FROM (VALUES
              ('lossy_gradient_q80.webp', CAST(48 AS BIGINT),
               CAST(64 AS BIGINT), '1f4490ee50c16fc18d0013b43eabc8f1'),
              ('lossy_photo_q60.webp', CAST(40 AS BIGINT),
               CAST(56 AS BIGINT), '2d8b975dc41a877d0f9b0305bf1a55ac'),
              ('lossy_solid_q50.webp', CAST(32 AS BIGINT),
               CAST(32 AS BIGINT), '743ed107a3825f56d95a43f899f56b5f')
            ) AS t(name, h, w, px_md5) ORDER BY name
        """,
        # demo_warc_ingest: the WARC framing/ingest roundtrip preserves
        # ids, domains (registered from the synthesized subdomain
        # hosts) and text bytes, so every value recomputes from the
        # documents table
        "demo_warc_ingest": """
            SELECT 'example' || CAST(doc_id % 3 AS VARCHAR) || '.com'
                     AS domain,
                   CAST(count(*) AS BIGINT) AS n,
                   min(doc_id) AS min_id,
                   max(doc_id) AS max_id,
                   CAST(sum(length(text)) AS BIGINT) AS chars
            FROM documents WHERE doc_id < 300
            GROUP BY doc_id % 3 ORDER BY domain
        """,
        # demo_html_extract: markup-free input text means the visible
        # text is pure concatenation over relational columns (the same
        # filters applied on both sides)
        "demo_html_extract": """
            SELECT doc_id,
                   'T' || CAST(doc_id AS VARCHAR) AS title,
                   text || chr(10) || 'tail '
                        || chr(65 + CAST(doc_id % 26 AS INT))
                        || chr(8216 + CAST(doc_id % 2 AS INT)) || ' '
                        || CAST(doc_id AS VARCHAR) AS text_out
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[<>&\t\n\r]')
              AND NOT contains(text, '  ')
              AND text = trim(text)
            ORDER BY doc_id
        """,
        # r14 (extended r15): chunked+gzip, brotli, brotli+UTF-16-BOM-
        # overrides-header, and zstd response bodies all decode to
        # identical text; the guard column proves the as-captured
        # http_body slice is loudly null on encoded messages
        "demo_http_decode": """
            SELECT doc_id,
                   text || chr(10) || 'end '
                        || CAST(doc_id AS VARCHAR) AS text_out,
                   CASE WHEN doc_id % 4 = 0 THEN 'gzip'
                        WHEN doc_id % 4 = 3 THEN 'zstd'
                        ELSE 'br' END AS enc,
                   TRUE AS guarded
            FROM documents
            WHERE doc_id < 300
              AND NOT regexp_matches(text, '[<>&\t\n\r]')
              AND NOT contains(text, '  ')
              AND text = trim(text)
            ORDER BY doc_id
        """,
        # demo_warc_roundtrip: the public sink preserves ids/domains/
        # text bytes, so everything recomputes from documents (same
        # shape as demo_warc_ingest, through write_warc)
        "demo_warc_roundtrip": """
            SELECT 'example' || CAST(doc_id % 3 AS VARCHAR) || '.com'
                     AS domain,
                   CAST(count(*) AS BIGINT) AS n,
                   min(doc_id) AS min_id,
                   max(doc_id) AS max_id,
                   CAST(sum(length(text)) AS BIGINT) AS chars
            FROM documents WHERE doc_id < 300
            GROUP BY doc_id % 3 ORDER BY domain
        """,
        # demo_robots_filter: wildcard-free rules make every verdict a
        # prefix predicate. Even hosts (Allow /p + Disallow /): the /p
        # PREFIX also matches /private/... (longest-match is on raw
        # prefixes, not path segments — RFC 9309 semantics), so m=0
        # (/p/...) AND m=1 (/private/...) are allowed, m=2 (/q...)
        # hits only Disallow /. Odd hosts block exactly /private/...
        "demo_robots_filter": """
            SELECT 'h' || CAST(doc_id % 10 AS VARCHAR)
                     || '.example.com' AS host,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE
                     WHEN (doc_id % 10) % 2 = 0
                       THEN CASE WHEN doc_id % 3 IN (0, 1)
                                 THEN 1 ELSE 0 END
                     ELSE CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 END
                   END) AS BIGINT) AS n_allowed
            FROM documents WHERE doc_id < 500
            GROUP BY doc_id % 10 ORDER BY host
        """,
        # demo_jpeg_arith: T.81 QM decode is exactly specified and the
        # engine IDCT deterministic -> decoded-pixel md5s are literals
        # (pinned at fixture-generation time by
        # devtools/gen_jpegarith_fixtures.py; coefficient-exactness vs
        # libjpeg is pinned in tests/test_jpeg_arith.py)
        "demo_jpeg_arith": """
            SELECT * FROM (VALUES
              ('arith_color_grad_q85.jpg', CAST(24 AS BIGINT),
               CAST(17 AS BIGINT), '0fa55c7c9f74aae430f009367eb758b9'),
              ('arith_color_noise_q60_rst2.jpg', CAST(32 AS BIGINT),
               CAST(48 AS BIGINT), 'a345b7c2a7485631439285d08ddff83d'),
              ('arith_gray_noise_q95.jpg', CAST(16 AS BIGINT),
               CAST(16 AS BIGINT), 'dd4991743cb524bcdbae41fc0bf361de'),
              ('arith_gray_photo_q90_rst3.jpg', CAST(40 AS BIGINT),
               CAST(56 AS BIGINT), '3c18c652bdc9fe8ca9a4774f3e2d849a'),
              ('arith_prog_color_q80.jpg', CAST(32 AS BIGINT),
               CAST(48 AS BIGINT), '79263265fcc8d9c43c32079ca88d4e4a'),
              ('arith_prog_gray_q88.jpg', CAST(40 AS BIGINT),
               CAST(56 AS BIGINT), '4063cf0f4ab920d31e3266b452700ee4')
            ) AS t(name, h, w, px_md5) ORDER BY name
        """,
        # demo_sitemap_frontier (r15): every structured-sitemap value
        # recomputes relationally — urlset entries from documents
        # columns (gzip transport for sites 0-1 is invisible after
        # sitemap_text), index entries from range(5)
        "demo_sitemap_frontier": """
            SELECT 'https://site' || CAST(doc_id % 5 AS VARCHAR)
                     || '.example.com/d/' || CAST(doc_id AS VARCHAR)
                     || '?a=1&b=2' AS loc,
                   '2025-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                                      2, '0') AS lastmod,
                   FALSE AS is_index
            FROM documents WHERE doc_id < 400
            UNION ALL
            SELECT 'https://site' || CAST(g AS VARCHAR)
                     || '.example.com/sitemap.xml'
                     || CASE WHEN g < 2 THEN '.gz' ELSE '' END AS loc,
                   '2025-02-0' || CAST(g + 1 AS VARCHAR) AS lastmod,
                   TRUE AS is_index
            FROM range(5) t(g)
            ORDER BY loc
        """,
        # demo_video_dedup (r15/r18): three footage groups across
        # SIX containers (AVI / raw H.264 / H.264-in-MP4 /
        # HEVC-in-MP4 / H.264-in-MKV / VP8-in-WebM), bytes varied by
        # fps/quality/layout within each — the signature collapses
        # groups exactly, so sizes/extremes recompute relationally
        "demo_video_dedup": """
            SELECT CAST(count(*) AS BIGINT) AS n,
                   min(doc_id) AS min_id, max(doc_id) AS max_id,
                   CAST(count(DISTINCT (doc_id // 3) % 6) AS BIGINT)
                     AS n_containers
            FROM documents WHERE doc_id < 180
            GROUP BY doc_id % 3 ORDER BY min_id
        """,
        # demo_audio_dedup (r15): every clip matches its own melody's
        # reference and not the next one's — the numeric margins live
        # in pytest; the gate pins the resulting classification
        # demo_audio_content (r17/r18): one content identity across
        # four packagings per leg — PCM (WAV / WAV+LIST / FLAC /
        # FLAC+tags), AAC (ADTS / dressed ADTS / MP4 / MP4+tags) and
        # Opus (Ogg / re-tagged Ogg / WebM / re-tagged+laced WebM)
        "demo_audio_content": """
            SELECT legs.leg, CAST(count(*) AS BIGINT) AS n,
                   min(doc_id) AS min_id, max(doc_id) AS max_id,
                   CAST(count(DISTINCT doc_id % 4) AS BIGINT)
                     AS n_species
            FROM documents
            CROSS JOIN (VALUES ('aac'), ('opus'), ('pcm'))
              AS legs(leg)
            WHERE doc_id < 180
            GROUP BY legs.leg, doc_id % 3 ORDER BY legs.leg, min_id
        """,
        # demo_mp3_dedup (r17/r18): content groups by doc_id % 3,
        # four tag/layout dressings per group and leg (mp3/ogg/aac/
        # mkv) must collapse to one frame-walk hash
        "demo_mp3_dedup": """
            SELECT legs.leg, CAST(count(*) AS BIGINT) AS n,
                   min(doc_id) AS min_id, max(doc_id) AS max_id,
                   CAST(count(DISTINCT doc_id % 4) AS BIGINT)
                     AS n_tagshapes
            FROM documents
            CROSS JOIN (VALUES ('aac'), ('mkv'), ('mp3'), ('ogg'))
              AS legs(leg)
            WHERE doc_id < 180
            GROUP BY legs.leg, doc_id % 3 ORDER BY legs.leg, min_id
        """,
        "demo_audio_dedup": """
            SELECT doc_id, TRUE AS same_group, FALSE AS cross_group
            FROM documents WHERE doc_id < 240
            ORDER BY doc_id
        """,
        # demo_snapshot_diff (r15): the latest capture per key wins on
        # the old side (the stale duplicate vanishes), then the whole
        # classification is one relational FULL OUTER JOIN
        "demo_snapshot_diff": """
            WITH o AS (
              SELECT 'com,site)/d/' || CAST(doc_id AS VARCHAR)
                       AS urlkey,
                     'd' || CAST(doc_id % 50 AS VARCHAR) AS old_digest,
                     '20250101000000' AS old_timestamp
              FROM documents WHERE doc_id < 400),
            n AS (
              SELECT 'com,site)/d/' || CAST(doc_id AS VARCHAR)
                       AS urlkey,
                     CASE WHEN doc_id % 3 = 0
                          THEN 'd' || CAST(doc_id % 50 AS VARCHAR)
                          ELSE 'x' || CAST(doc_id AS VARCHAR)
                     END AS new_digest,
                     '20250601000000' AS new_timestamp
              FROM documents WHERE doc_id >= 100 AND doc_id < 500)
            SELECT coalesce(o.urlkey, n.urlkey) AS urlkey,
                   CASE WHEN o.urlkey IS NULL THEN 'added'
                        WHEN n.urlkey IS NULL THEN 'removed'
                        WHEN old_digest = new_digest THEN 'unchanged'
                        ELSE 'changed' END AS change,
                   old_digest, new_digest,
                   old_timestamp, new_timestamp
            FROM o FULL OUTER JOIN n ON o.urlkey = n.urlkey
            ORDER BY urlkey
        """,
        # demo_fetch_schedule (r15): per-host polite sequencing — the
        # window and the Crawl-delay CASE both replay relationally
        "demo_fetch_schedule": """
            WITH f AS (
              SELECT 'https://h' || CAST(doc_id % 10 AS VARCHAR)
                       || '.example.com/d/' || CAST(doc_id AS VARCHAR)
                       AS url,
                     'h' || CAST(doc_id % 10 AS VARCHAR)
                       || '.example.com' AS host,
                     doc_id % 10 AS hn
              FROM documents WHERE doc_id < 500)
            SELECT url, host,
                   CAST(row_number() OVER w AS INT) AS seq,
                   CAST((row_number() OVER w - 1)
                        * (CASE WHEN hn % 2 = 0 THEN hn + 1
                           ELSE 1.0 END) AS DOUBLE) AS eta_s
            FROM f
            WINDOW w AS (PARTITION BY host ORDER BY url)
            ORDER BY host, seq
        """,
        # demo_link_frontier (r15): three navigational anchors per doc
        # (absolute-path / relative+sorted-query / dot-segment), the
        # javascript: one filtered; every resolved URL and surt key
        # recomputes relationally
        "demo_link_frontier": """
            WITH d AS (SELECT doc_id, doc_id % 3 AS g
                       FROM documents WHERE doc_id < 400)
            SELECT doc_id, pos, url, urlkey FROM (
              SELECT doc_id, 0 AS pos,
                     'https://site' || g || '.example.com/d/' || doc_id
                       AS url,
                     'com,example,site' || g || ')/d/' || doc_id
                       AS urlkey
              FROM d
              UNION ALL
              SELECT doc_id, 1,
                     'https://site' || g || '.example.com/dir/sub/'
                       || (doc_id % 7) || '?b=2&a=1',
                     'com,example,site' || g || ')/dir/sub/'
                       || (doc_id % 7) || '?a=1&b=2'
              FROM d
              UNION ALL
              SELECT doc_id, 2,
                     'https://site' || g || '.example.com/up/'
                       || (doc_id % 5),
                     'com,example,site' || g || ')/up/'
                       || (doc_id % 5)
              FROM d)
            ORDER BY doc_id, pos
        """,
        # demo_tiff_roundtrip: lossless roundtrip of solid-color 6x9
        # payloads -> every decoded feature is integer math on the
        # relational columns
        "demo_tiff_roundtrip": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(6 AS BIGINT) AS h,
                   CAST(9 AS BIGINT) AS w,
                   avg(CAST(doc_id % 256 AS DOUBLE)) AS r_avg,
                   avg(CAST(n_chars % 256 AS DOUBLE)) AS g_avg
            FROM documents WHERE doc_id < 400
            GROUP BY source ORDER BY source
        """,
        # demo_main_content (r15): every block's visible text is an
        # exact string expression over the columns, so the expected
        # main text is concatenation + one length CASE (the nav block
        # dies by density, the footer by length, the closing paragraph
        # always survives with its inline link)
        "demo_main_content": """
            SELECT doc_id,
                   CASE WHEN length(text) >= 80
                        THEN text || chr(10) ELSE '' END
                   || 'Closing paragraph for document '
                   || CAST(doc_id AS VARCHAR)
                   || ' keeps one inline reference link and enough '
                   || 'surrounding prose to stay well under the '
                   || 'density cap.' AS main,
                   4 AS n_blocks
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[<>&\t\n\r]')
              AND text NOT LIKE '%  %' AND text = trim(text)
              AND length(text) >= 1
            ORDER BY doc_id
        """,
        # demo_mime_route (r15): the WHATWG dispatch must land every
        # constructed payload on its modality's type — the oracle
        # recomputes the routing from the doc_id % 14 rule
        "demo_mime_route": """
            SELECT doc_id,
                   CASE CAST(doc_id % 14 AS INT)
                     WHEN 0 THEN 'image/png'
                     WHEN 1 THEN 'image/bmp'
                     WHEN 2 THEN 'image/x-portable-pixmap'
                     WHEN 3 THEN 'image/jpeg'
                     WHEN 4 THEN 'image/gif'
                     WHEN 5 THEN 'image/tiff'
                     WHEN 6 THEN 'audio/wave'
                     WHEN 7 THEN 'audio/flac'
                     WHEN 8 THEN 'video/avi'
                     WHEN 9 THEN 'application/gzip'
                     WHEN 10 THEN 'text/html'
                     WHEN 11 THEN 'text/xml'
                     WHEN 12 THEN 'text/plain'
                     ELSE 'application/octet-stream'
                   END AS mime
            FROM documents
            WHERE doc_id < 390
              AND NOT regexp_matches(text, '[<>&\\x00-\\x1f]')
              AND length(text) >= 1
            ORDER BY doc_id
        """,
        # demo_avif_decode (r15): AV1/HEVC reconstruction is exactly
        # specified -> pinned decoded-pixel md5s (regenerate with
        # devtools/gen_avif_fixtures.py / gen_heic_fixtures.py); mime
        # pins the ftyp-brand dispatch
        "demo_avif_decode": """
            SELECT * FROM (VALUES
              ('avif_solid.avif', CAST(24 AS BIGINT),
               CAST(32 AS BIGINT),
               'fc01c1bc24fc38b2f775e92080b52d9b', 'image/avif'),
              ('avif_gradient.avif', CAST(32 AS BIGINT),
               CAST(48 AS BIGINT),
               '449f19c80d084c90f1dc63115c54abdd', 'image/avif'),
              ('avif_texture.avif', CAST(40 AS BIGINT),
               CAST(40 AS BIGINT),
               '443b24cc2eedd5e5784cfda18adf4c5a', 'image/avif'),
              ('heic_solid.heic', CAST(24 AS BIGINT),
               CAST(32 AS BIGINT),
               'fc01c1bc24fc38b2f775e92080b52d9b', 'image/heic'),
              ('heic_gradient.heic', CAST(32 AS BIGINT),
               CAST(48 AS BIGINT),
               '6b5c9330c84405f9c7b43301cea2cbd6', 'image/heic'),
              ('heic_texture.heic', CAST(40 AS BIGINT),
               CAST(40 AS BIGINT),
               '3bc6f5737308a19be4814080ba774d15', 'image/heic')
            ) AS t(name, h, w, px_md5, mime) ORDER BY name
        """,
        # demo_unicode_fold (r15): DuckDB's own UCD replays the NFC
        # fold (chr-built combining marks), replace() replays the
        # ZWSP strip; the retained-ZWSP length pins that
        # strip_invisible (not the normalizer) removed it
        "demo_unicode_fold": """
            SELECT doc_id,
                   nfc_normalize(
                     substr(text, 1, 5) || substr(text, 6) ||
                     ' cafe' || chr(769) || ' nai' || chr(776) || 've'
                   ) AS folded,
                   CAST(length(nfc_normalize(
                     substr(text, 1, 5) || chr(8203) ||
                     substr(text, 6) ||
                     ' cafe' || chr(769) || ' nai' || chr(776) || 've'
                   )) AS BIGINT) AS folded_len
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
              AND length(text) >= 10
            ORDER BY doc_id
        """,
        # demo_readability (r15): the whole Flesch computation —
        # word split, sentence runs, vowel-group/silent-e syllables
        # (list lambdas), and the published constants in the same
        # association order — replayed relationally
        "demo_readability": """
            WITH base AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, ' '),
                                 w -> w <> '') AS ws
              FROM documents
              WHERE doc_id < 400
                AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
                AND length(text) >= 1
            ), cnt AS (
              SELECT doc_id,
                     CAST(len(ws) AS BIGINT) AS words,
                     CAST(greatest(len(regexp_extract_all(
                       text, '[.!?]+')), 1) AS BIGINT) AS sentences,
                     CAST(list_aggregate(list_transform(ws, w ->
                       greatest(
                         len(regexp_extract_all(
                           lower(regexp_replace(w, '[^A-Za-z]+', '',
                                                'g')),
                           '[aeiouy]+'))
                         - CASE WHEN regexp_matches(
                               lower(regexp_replace(w, '[^A-Za-z]+',
                                                    '', 'g')),
                               '[^aeiouy]e$')
                             AND len(regexp_extract_all(
                               lower(regexp_replace(w, '[^A-Za-z]+',
                                                    '', 'g')),
                               '[aeiouy]+')) > 1
                           THEN 1 ELSE 0 END,
                         1)), 'sum') AS BIGINT) AS syllables
              FROM base
            )
            SELECT doc_id, words, sentences, syllables,
                   CASE WHEN words = 0 THEN NULL ELSE
                     206.835
                     - 1.015 * (CAST(words AS DOUBLE)
                                / CAST(sentences AS DOUBLE))
                     - 84.6 * (CAST(syllables AS DOUBLE)
                               / CAST(words AS DOUBLE)) END AS fre,
                   CASE WHEN words = 0 THEN NULL ELSE
                     0.39 * (CAST(words AS DOUBLE)
                             / CAST(sentences AS DOUBLE))
                     + 11.8 * (CAST(syllables AS DOUBLE)
                               / CAST(words AS DOUBLE))
                     - 15.59 END AS fkgl
            FROM cnt ORDER BY doc_id
        """,
        # demo_zorder (r15): the Morton interleave as explicit SQL
        # bit arithmetic, plus the locality property (high-bit
        # buckets bound both dimensions) recomputed relationally
        # demo_jpeg_lossless (r16): SOF3 reconstruction must be
        # bit-exact for every predictor — DuckDB replays the pattern
        # formula relationally (lateral generate_series per doc)
        "demo_jpeg_lossless": """
            SELECT d.doc_id,
                   CAST(8 + d.doc_id % 5 AS BIGINT) AS h,
                   CAST(8 + d.doc_id % 7 AS BIGINT) AS w,
                   (SELECT CAST(sum((d.doc_id + 3 * y.g + 5 * x.g)
                                    % 251) AS BIGINT)
                    FROM generate_series(0, 11) y(g),
                         generate_series(0, 13) x(g)
                    WHERE y.g < 8 + d.doc_id % 5
                      AND x.g < 8 + d.doc_id % 7) AS px_sum,
                   CAST((d.doc_id + 3 * (7 + d.doc_id % 5)
                         + 5 * (7 + d.doc_id % 7)) % 251 AS BIGINT)
                     AS corner
            FROM documents d
            WHERE d.doc_id < 300
            ORDER BY d.doc_id
        """,
        # demo_sketch_layout (r16): equi-depth boundaries from a
        # quantile state == quantile_disc splits (exact regime);
        # bucket id = CASE-sum over the same literals; hot languages
        # (>= 1/4 of the corpus, exact-regime freq state) fan out to
        # 4 doc_id-keyed salts, cold keep salt 0
        "demo_sketch_layout": """
            WITH b AS (
              SELECT quantile_disc(CAST(n_chars AS DOUBLE), 0.25) AS b1,
                     quantile_disc(CAST(n_chars AS DOUBLE), 0.50) AS b2,
                     quantile_disc(CAST(n_chars AS DOUBLE), 0.75) AS b3
              FROM documents),
            hot AS (
              SELECT lang FROM documents GROUP BY lang
              HAVING count(*) >=
                (SELECT count(*) // 4 FROM documents))
            SELECT 'bucket' AS leg,
                   CAST((CASE WHEN CAST(n_chars AS DOUBLE) >
                                   (SELECT b1 FROM b)
                         THEN 1 ELSE 0 END) +
                        (CASE WHEN CAST(n_chars AS DOUBLE) >
                                   (SELECT b2 FROM b)
                         THEN 1 ELSE 0 END) +
                        (CASE WHEN CAST(n_chars AS DOUBLE) >
                                   (SELECT b3 FROM b)
                         THEN 1 ELSE 0 END) AS VARCHAR) AS k,
                   CAST(min(n_chars) AS DOUBLE) AS lo,
                   CAST(max(n_chars) AS DOUBLE) AS hi,
                   count(*) AS n
            FROM documents GROUP BY k
            UNION ALL
            SELECT 'salt' AS leg, lang AS k,
                   CAST(count(DISTINCT
                        CASE WHEN lang IN (SELECT lang FROM hot)
                             THEN doc_id % 4 ELSE 0 END) AS DOUBLE)
                     AS lo,
                   0.0 AS hi,
                   count(*) AS n
            FROM documents GROUP BY lang
            ORDER BY leg, k
        """,
        # demo_multi_accumulate (r17): every family exact-regime at
        # gate scale — one-scan multi states must estimate to the
        # same exact values as four single-family runs: p50 =
        # quantile_disc, theta NDV = COUNT DISTINCT, freq top =
        # the max per-source count, bloom probe of a known member = 1
        "demo_multi_accumulate": """
            WITH ex AS (
              SELECT lang,
                     quantile_disc(CAST(n_chars AS DOUBLE), 0.5)
                       AS p50,
                     COUNT(DISTINCT doc_id) AS ndv
              FROM documents GROUP BY lang),
            sc AS (
              SELECT lang, source, COUNT(*) AS c
              FROM documents GROUP BY lang, source),
            tn AS (SELECT lang, MAX(c) AS top_n FROM sc GROUP BY lang)
            SELECT legs.leg, ex.lang, ex.p50, ex.ndv, tn.top_n,
                   1 AS probe_hit
            FROM ex
            JOIN tn ON ex.lang = tn.lang
            CROSS JOIN (VALUES ('multi'), ('single')) AS legs(leg)
            ORDER BY legs.leg, ex.lang
        """,
        "demo_zorder": """
            WITH keyed AS (
              SELECT doc_id,
                     CAST(doc_id % 64 AS BIGINT) AS x,
                     CAST(doc_id // 64 AS BIGINT) AS y,
                     -- NOTE: DuckDB's << binds LOOSER than | and +,
                     -- so every interleave term is fully
                     -- parenthesized and the disjoint bits combine
                     -- with +
                     CAST(
                       ((((doc_id % 64) >> 0) & 1) << 0)
                     + ((((doc_id // 64) >> 0) & 1) << 1)
                     + ((((doc_id % 64) >> 1) & 1) << 2)
                     + ((((doc_id // 64) >> 1) & 1) << 3)
                     + ((((doc_id % 64) >> 2) & 1) << 4)
                     + ((((doc_id // 64) >> 2) & 1) << 5)
                     + ((((doc_id % 64) >> 3) & 1) << 6)
                     + ((((doc_id // 64) >> 3) & 1) << 7)
                     + ((((doc_id % 64) >> 4) & 1) << 8)
                     + ((((doc_id // 64) >> 4) & 1) << 9)
                     + ((((doc_id % 64) >> 5) & 1) << 10)
                     + ((((doc_id // 64) >> 5) & 1) << 11)
                       AS BIGINT) AS z
              FROM documents WHERE doc_id < 4096
            ), spans AS (
              SELECT z >> 8 AS bucket,
                     CAST(count(*) AS BIGINT) AS n,
                     max(x) - min(x) AS span_x,
                     max(y) - min(y) AS span_y
              FROM keyed GROUP BY 1
            )
            SELECT k.doc_id, k.x, k.y, k.z,
                   s.bucket, s.n, s.span_x, s.span_y
            FROM keyed k JOIN spans s ON (k.z >> 8) = s.bucket
            ORDER BY k.doc_id
        """,
        "demo_langid_wide": _demo_langid_wide_oracle(),
        # demo_pdf_text (r15): write/read symmetry — the expected
        # extracted text is a pure string expression over the columns
        # r16: doc_id % 3 picks classic / Type0+ToUnicode (page two
        # carries a CMap-only non-ASCII char) / ObjStm+xref-stream;
        # stream counts are shape-specific (content / +CMap /
        # +ObjStm+XRef) and the ObjStm page count needs unpacking
        "demo_pdf_text": """
            SELECT doc_id,
                   substr(text, 1, 60) || chr(10) ||
                     'doc ' || CAST(doc_id AS VARCHAR) ||
                     ' second page' ||
                     CASE WHEN doc_id % 7 IN (1, 5, 6) THEN ' ✓'
                          ELSE '' END AS text,
                   CAST(2 AS BIGINT) AS pages,
                   CAST(CASE doc_id % 7 WHEN 0 THEN 2
                        WHEN 1 THEN 3 WHEN 2 THEN 4
                        WHEN 5 THEN 3 ELSE 2 END AS BIGINT)
                     AS streams
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
              AND length(text) >= 60
            ORDER BY doc_id
        """,
        # demo_docx_text (r15): write/read symmetry, XML specials
        # escape-and-decode through the package
        "demo_docx_text": """
            SELECT doc_id,
                   substr(text, 1, 40) || chr(10) ||
                     'doc ' || CAST(doc_id AS VARCHAR) ||
                     ': a < b & c > d' AS text,
                   CAST(2 AS BIGINT) AS paragraphs
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
              AND length(text) >= 40
            ORDER BY doc_id
        """,
        # demo_office_text (r15 + r16 OpenDocument pair): write/read
        # symmetry for XLSX and ODS (the SAME tab/newline flat-text
        # contract, 4 cells), PPTX (blank-line slide separator, 2
        # slides), and ODT (newline paragraphs with XML entities
        # decoded, 2 paragraphs)
        "demo_office_text": """
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 OR doc_id % 4 = 3
                        THEN substr(text, 1, 30) || chr(9) ||
                             CAST(doc_id AS VARCHAR) || chr(10) ||
                             'a < b & c' || chr(9) ||
                             CAST(doc_id * 2 AS VARCHAR)
                        WHEN doc_id % 4 = 1
                        THEN substr(text, 1, 30) || chr(10) ||
                             chr(10) || 'slide two of doc ' ||
                             CAST(doc_id AS VARCHAR)
                        ELSE substr(text, 1, 30) || chr(10) ||
                             'odt & <para> two of doc ' ||
                             CAST(doc_id AS VARCHAR)
                   END AS text,
                   CASE WHEN doc_id % 4 = 0 OR doc_id % 4 = 3
                        THEN CAST(4 AS BIGINT)
                        ELSE CAST(2 AS BIGINT) END AS units
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
              AND length(text) >= 30
            ORDER BY doc_id
        """,
        # demo_subtitle_text (r18): cue one is the doc text, cue two
        # is doc-numbered; UTF8/SRT/VTT/tx3g/wvtt cues end up
        # verbatim (markup tags stripped), ASS Dialogue lines (muxed
        # OR bare) lose their {\b1} override tags and \N becomes a
        # newline — so the whole seven-packaging extraction rebuilds
        # relationally
        "demo_subtitle_text": """
            SELECT doc_id,
                   CASE WHEN doc_id % 7 IN (1, 4)
                        THEN trim(substr(text, 1, 30)) || chr(10) ||
                             'line two' || chr(10) || 'of doc ' ||
                             CAST(doc_id AS VARCHAR)
                        ELSE trim(substr(text, 1, 30)) || chr(10) ||
                             'cue two of doc ' ||
                             CAST(doc_id AS VARCHAR)
                   END AS text,
                   CAST(2 AS BIGINT) AS cues,
                   CASE doc_id % 7
                        WHEN 0 THEN 'S_TEXT/UTF8'
                        WHEN 1 THEN 'S_TEXT/ASS'
                        WHEN 2 THEN 'srt'
                        WHEN 3 THEN 'vtt'
                        WHEN 4 THEN 'ass'
                        WHEN 5 THEN 'tx3g'
                        ELSE 'wvtt' END AS sub_codec,
                   CASE doc_id % 7
                        WHEN 0 THEN 'eng'
                        WHEN 1 THEN 'spa'
                        WHEN 5 THEN 'deu'
                        WHEN 6 THEN 'nld'
                        ELSE 'und' END AS lang
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
              AND NOT regexp_matches(text, '[{}\\\\<>&]')
              AND length(text) >= 30
            ORDER BY doc_id
        """,
        # demo_media_metadata (r18): every tag value derives from
        # documents columns, so the whole 14-column uniform record —
        # EXIF/ID3/Vorbis/PNG/RIFF per doc_id % 7, incl. per-leg
        # n_fields counts and the even-doc GPS flag — rebuilds as a
        # CASE ladder
        "demo_media_metadata": """
            SELECT doc_id,
                   CASE doc_id % 12
                        WHEN 0 THEN 'exif'
                        WHEN 1 THEN 'id3' WHEN 2 THEN 'id3'
                        WHEN 3 THEN 'vorbis' WHEN 4 THEN 'vorbis'
                        WHEN 5 THEN 'png' WHEN 6 THEN 'riff'
                        WHEN 7 THEN 'pdf' WHEN 8 THEN 'exif'
                        WHEN 9 THEN 'mkv' WHEN 10 THEN 'mp4'
                        ELSE 'exif' END AS kind,
                   CASE WHEN doc_id % 12 = 0 THEN NULL
                        WHEN doc_id % 12 IN (1, 2)
                             THEN trim(substr(text, 1, 20))
                        WHEN doc_id % 12 = 7
                             THEN trim(substr(text, 1, 18))
                        WHEN doc_id % 12 = 11
                             THEN 'wx ' || CAST(doc_id AS VARCHAR)
                        ELSE trim(substr(text, 1, 16))
                   END AS title,
                   CASE doc_id % 12
                        WHEN 0 THEN trim(substr(text, 1, 12))
                        WHEN 1 THEN 'band ' ||
                             CAST(doc_id % 4 AS VARCHAR)
                        WHEN 2 THEN 'uband ' ||
                             CAST(doc_id % 5 AS VARCHAR)
                        WHEN 3 THEN 'flacband ' ||
                             CAST(doc_id % 3 AS VARCHAR)
                        WHEN 4 THEN 'oggband ' ||
                             CAST(doc_id % 3 AS VARCHAR)
                        WHEN 5 THEN 'author ' ||
                             CAST(doc_id % 4 AS VARCHAR)
                        WHEN 6 THEN 'wband ' ||
                             CAST(doc_id % 4 AS VARCHAR)
                        WHEN 7 THEN 'pauthor ' ||
                             CAST(doc_id % 4 AS VARCHAR)
                        WHEN 8 THEN 'xmpartist ' ||
                             CAST(doc_id % 3 AS VARCHAR)
                        WHEN 9 THEN 'mkband ' ||
                             CAST(doc_id % 3 AS VARCHAR)
                        WHEN 10 THEN 'm4band ' ||
                             CAST(doc_id % 4 AS VARCHAR)
                        ELSE trim(substr(text, 1, 12))
                   END AS artist,
                   CASE doc_id % 12
                        WHEN 1 THEN 'LP ' ||
                             CAST(doc_id % 6 AS VARCHAR)
                        WHEN 3 THEN 'falb ' ||
                             CAST(doc_id % 4 AS VARCHAR)
                        WHEN 10 THEN 'm4alb ' ||
                             CAST(doc_id % 3 AS VARCHAR)
                        ELSE NULL END AS album,
                   CASE doc_id % 12
                        WHEN 0 THEN '2024:05:01 10:00:0' ||
                             CAST(doc_id % 10 AS VARCHAR)
                        WHEN 1 THEN CAST(1990 + doc_id % 30
                                         AS VARCHAR)
                        WHEN 2 THEN CAST(2000 + doc_id % 20
                                         AS VARCHAR)
                        WHEN 4 THEN CAST(2010 + doc_id % 10
                                         AS VARCHAR)
                        WHEN 5 THEN CAST(2015 + doc_id % 5
                                         AS VARCHAR)
                        WHEN 6 THEN CAST(1995 + doc_id % 15
                                         AS VARCHAR)
                        WHEN 7 THEN '2024010112000' ||
                             CAST(doc_id % 10 AS VARCHAR)
                        WHEN 8 THEN CAST(2020 + doc_id % 5
                                         AS VARCHAR)
                        WHEN 9 THEN CAST(2005 + doc_id % 5
                                         AS VARCHAR)
                        WHEN 10 THEN CAST(2012 + doc_id % 8
                                          AS VARCHAR)
                        ELSE NULL END AS date,
                   CASE WHEN doc_id % 12 IN (0, 3, 5, 6, 7)
                             THEN 'engine'
                        WHEN doc_id % 12 = 8 THEN 'xmptool'
                        WHEN doc_id % 12 = 9 THEN 'mkmux'
                        WHEN doc_id % 12 = 10 THEN 'm4mux'
                        ELSE NULL END AS software,
                   CASE doc_id % 12
                        WHEN 1 THEN 'genre ' ||
                             CAST(doc_id % 3 AS VARCHAR)
                        WHEN 6 THEN 'wgen ' ||
                             CAST(doc_id % 2 AS VARCHAR)
                        WHEN 9 THEN 'mkg ' ||
                             CAST(doc_id % 2 AS VARCHAR)
                        ELSE NULL END AS genre,
                   CASE doc_id % 12
                        WHEN 0 THEN 'doc ' ||
                             CAST(doc_id AS VARCHAR)
                        WHEN 1 THEN 'c doc ' ||
                             CAST(doc_id AS VARCHAR)
                        WHEN 4 THEN 'odesc ' ||
                             CAST(doc_id AS VARCHAR)
                        WHEN 6 THEN 'wc ' ||
                             CAST(doc_id AS VARCHAR)
                        WHEN 7 THEN 'psubj ' ||
                             CAST(doc_id AS VARCHAR)
                        ELSE NULL END AS comment,
                   CAST(NULL AS VARCHAR) AS copyright,
                   CASE WHEN doc_id % 12 = 0
                        THEN 'Cam ' || CAST(doc_id % 5 AS VARCHAR)
                        WHEN doc_id % 12 = 11
                        THEN 'WCam ' || CAST(doc_id % 5 AS VARCHAR)
                        ELSE NULL END AS make,
                   CAST(NULL AS VARCHAR) AS model,
                   CASE WHEN doc_id % 12 = 0
                        THEN CAST(doc_id % 8 + 1 AS BIGINT)
                        ELSE NULL END AS orientation,
                   CASE WHEN doc_id % 12 = 0
                        THEN doc_id % 2 = 0
                        WHEN doc_id % 12 = 8 THEN FALSE
                        WHEN doc_id % 12 = 11
                        THEN doc_id % 2 = 0
                        ELSE NULL END AS has_gps,
                   CAST(CASE doc_id % 12
                        WHEN 0 THEN 6 + CASE WHEN doc_id % 2 = 0
                                             THEN 1 ELSE 0 END
                        WHEN 1 THEN 6
                        WHEN 2 THEN 3
                        WHEN 3 THEN 4
                        WHEN 4 THEN 4
                        WHEN 5 THEN 4
                        WHEN 6 THEN 6
                        WHEN 7 THEN 5
                        WHEN 8 THEN 4
                        WHEN 9 THEN 5
                        WHEN 10 THEN 5
                        ELSE 3 + CASE WHEN doc_id % 2 = 0
                                      THEN 1 ELSE 0 END
                        END AS BIGINT) AS n_fields
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
              AND length(text) >= 30
              AND trim(substr(text, 1, 12)) != ''
            ORDER BY doc_id
        """,
        # demo_article_meta (r18): the three page species' outputs
        # derive entirely from doc columns — the JSON-LD leg's five
        # fields, the OpenGraph leg's title/description with the
        # rest NULL, and the title-only leg
        "demo_article_meta": """
            SELECT doc_id,
                   trim(substr(text, 1, 24)) AS title,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'writer ' || CAST(doc_id % 5 AS VARCHAR)
                        ELSE NULL END AS author,
                   CASE WHEN doc_id % 3 = 0
                        THEN '2024-0' ||
                             CAST(doc_id % 9 + 1 AS VARCHAR) || '-15'
                        ELSE NULL END AS date_published,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'site ' || CAST(doc_id % 4 AS VARCHAR)
                        ELSE NULL END AS publisher,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'about doc ' || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 3 = 1
                        THEN 'md doc ' || CAST(doc_id AS VARCHAR)
                        ELSE NULL END AS description
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
              AND NOT regexp_matches(text, '[{}\\\\<>&"'']')
              AND length(text) >= 30
              AND trim(substr(text, 1, 24)) != ''
            ORDER BY doc_id
        """,
        # demo_feed_entries (r18): two entries per doc (the link-less
        # RSS item drops), every column a deterministic function of
        # doc columns — rebuilt as a two-row UNION per doc
        "demo_feed_entries": """
            WITH base AS (
                SELECT doc_id, trim(substr(text, 1, 20)) AS head
                FROM documents
                WHERE doc_id < 400
                  AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
                  AND NOT regexp_matches(text, '[{}\\\\<>&"'']')
                  AND length(text) >= 30
                  AND trim(substr(text, 1, 20)) != ''
            ), numbered AS (
                SELECT doc_id, head, 0 AS pos, 1 AS i FROM base
                UNION ALL
                SELECT doc_id, head, 1 AS pos, 2 AS i FROM base
            )
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'rss'
                        ELSE 'atom' END AS kind,
                   head AS feed_title,
                   CAST(pos AS INTEGER) AS pos,
                   'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
                   '.example/p' || CAST(doc_id AS VARCHAR) || '-' ||
                   CAST(i AS VARCHAR) AS url,
                   'post ' || CAST(i AS VARCHAR) || ' of doc ' ||
                   CAST(doc_id AS VARCHAR) AS title,
                   '2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR) ||
                   '-0' || CAST(i AS VARCHAR) AS published
            FROM numbered
            ORDER BY doc_id, pos
        """,
        # demo_page_signals (r18): canonical on doc_id % 4 in {0,2}
        # (the two attribute orders), noindex only for % 3 == 0,
        # feed-link counts by % 4 — all deterministic
        "demo_page_signals": """
            SELECT doc_id,
                   CASE WHEN doc_id % 4 IN (0, 2)
                        THEN 'https://canon' ||
                             CAST(doc_id % 5 AS VARCHAR) ||
                             '.example/page' ||
                             CAST(doc_id AS VARCHAR)
                        ELSE NULL END AS canonical,
                   doc_id % 3 = 0 AS noindex,
                   CAST(CASE doc_id % 4 WHEN 0 THEN 2
                        WHEN 3 THEN 0 ELSE 1 END
                        AS INTEGER) AS n_feeds,
                   CASE WHEN doc_id % 4 = 3 THEN NULL
                        ELSE '/feed' || CAST(doc_id AS VARCHAR)
                             || '-1.xml' END AS first_feed
            FROM documents
            WHERE doc_id < 400
            ORDER BY doc_id
        """,
        # demo_media_lyrics (r18): two verse lines from doc columns;
        # only the USLT carrier declares a language
        "demo_media_lyrics": """
            SELECT doc_id,
                   trim(substr(text, 1, 24)) || chr(10) ||
                   'second line of doc ' ||
                   CAST(doc_id AS VARCHAR) AS text,
                   CASE WHEN doc_id % 4 = 0 THEN 'eng'
                        ELSE NULL END AS lang
            FROM documents
            WHERE doc_id < 400
              AND NOT regexp_matches(text, '[^\\x20-\\x7e]')
              AND NOT regexp_matches(text, '[{}\\\\<>&"''=]')
              AND length(text) >= 30
              AND trim(substr(text, 1, 24)) != ''
            ORDER BY doc_id
        """,
        # demo_cover_dedup (r18): each art group must collapse to ONE
        # pixel hash across FIVE carriers — counts rebuild from the
        # doc_id keying alone
        "demo_cover_dedup": """
            SELECT doc_id % 3 AS art,
                   CAST(1 AS BIGINT) AS n_hashes,
                   CAST(5 AS BIGINT) AS n_carriers,
                   COUNT(*) AS n_docs
            FROM documents
            WHERE doc_id < 300
            GROUP BY doc_id % 3
            ORDER BY art
        """,
        "demo_script_id": _demo_script_id_oracle(),
    }
