"""Structured Streaming sketch aggregation tests (file source, availableNow
trigger, memory/parquet sinks)."""

import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def stream_dirs():
    dirs = [tempfile.mkdtemp(prefix=f"dss_stream_{i}_") for i in range(3)]
    yield dirs
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _events_stream(spark, tables, src_dir):
    ev = tables["events"].select("event_type", "user_id", "value")
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    return (spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(src_dir))


class TestStreaming:
    def test_stateful_accumulate_matches_batch(self, spark, tables,
                                               stream_dirs):
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream)
        src_dir, ckpt, _ = stream_dirs
        stream = _events_stream(spark, tables, src_dir)
        out = sketch_accumulate_stream(stream, ["event_type"], "value",
                                       family="quantile", impl="MERGEABLE",
                                       k=262_144)
        q = (out.writeStream.format("memory").queryName("sk_stream")
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 120)
        # memory sink in update mode appends every trigger's rows: the LAST
        # row per key carries the final state
        final = spark.sql("""
            SELECT event_type, state FROM (
              SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY n DESC) rn FROM sk_stream
            ) WHERE rn = 1""")
        got = {r.event_type: r.p50 for r in final.select(
            "event_type",
            dsf.approx_percentile_estimate("state", 0.5).alias("p50")
        ).collect()}
        exact = {r.event_type: float(r.p50) for r in
                 tables["events"].groupBy("event_type").agg(
                     F.expr("percentile_disc(0.5) WITHIN GROUP "
                            "(ORDER BY value)").alias("p50")).collect()}
        assert set(got) == set(exact)
        for k in exact:
            assert got[k] == pytest.approx(exact[k], abs=1e-9), k

    def test_summary_sink_recombines(self, spark, tables, stream_dirs):
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.streaming import (
            await_or_fail, streaming_summary_sink)
        src_dir, ckpt, sink = stream_dirs
        stream = _events_stream(spark, tables, src_dir)
        q = streaming_summary_sink(stream, ["event_type"], "user_id",
                                   family="theta", k=16_384,
                                   path=sink, checkpoint=ckpt) \
            .trigger(availableNow=True).start()
        await_or_fail(q, 120)
        summaries = spark.read.parquet(sink)
        assert "batch_id" in summaries.columns
        assert summaries.select("batch_id").distinct().count() > 1
        got = {r.event_type: r.ndv for r in
               (summaries.groupBy("event_type")
                .agg(dsf.approx_count_distinct_combine("state").alias("m"))
                .select("event_type",
                        dsf.approx_count_distinct_estimate("m").alias("ndv"))
                ).collect()}
        exact = {r.event_type: r.ndv for r in
                 tables["events"].groupBy("event_type").agg(
                     F.countDistinct("user_id").alias("ndv")).collect()}
        assert got == exact


class TestStreamingDedup:
    def test_watermarked_dedup_suppresses_duplicates(self, spark, tables,
                                                     stream_dirs):
        """A duplicated corpus streamed in over several triggers must come
        out exactly once per content fingerprint, with watermark-bounded
        state (NTZ event time on purpose — the engine cast handles it)."""
        from datasketches_spark_spark.streaming import (
            await_or_fail, streaming_dedup)
        src_dir, ckpt, _ = stream_dirs
        docs = tables["documents"].select(
            "doc_id", "lang", F.md5("text").alias("fp"),
            (F.lit("2024-01-01").cast("timestamp_ntz")
             + F.make_interval(secs=(F.col("doc_id") % 100)
                               .cast("double"))).alias("ts"))
        # duplicate every document across two writes -> 2x input rows
        docs.repartition(2).write.mode("overwrite").parquet(src_dir)
        docs.repartition(2).write.mode("append").parquet(src_dir)
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src_dir))
        deduped = streaming_dedup(stream, ["fp"], event_time="ts",
                                  delay="1 day")
        q = (deduped.writeStream.format("memory").queryName("dedup_stream")
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 120)
        got = spark.sql(
            "SELECT count(*) AS n, count(DISTINCT fp) AS d "
            "FROM dedup_stream").collect()[0]
        exact = docs.select("fp").distinct().count()
        assert got.n == got.d == exact

    def test_dedup_requires_paired_event_time_args(self, spark, tables):
        from datasketches_spark_spark.streaming import streaming_dedup
        with pytest.raises(ValueError, match="together"):
            streaming_dedup(tables["documents"], ["doc_id"],
                            event_time="ts")


class TestWindowedStreaming:
    def test_watermarked_window_sketch_agg(self, spark, tables, stream_dirs):
        """Event-time windowed sketch aggregation with a watermark — the
        late-data pattern: group by window(ts, 1 day) with a 2-day
        watermark, one sketch state per (window) in the state store.

        The fixture parquet's ``ts`` is timezone-less, so Spark 4 reads it
        as TIMESTAMP_NTZ, which ``withWatermark`` rejects outright
        (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — the engine's
        ``with_event_time_watermark`` must absorb that, so this test runs
        the NTZ path on purpose and asserts the stream result still
        matches batch."""
        from pyspark.sql.types import TimestampNTZType
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream,
            with_event_time_watermark)
        src_dir, ckpt, _ = stream_dirs
        ev = tables["events"].select("ts", "value")
        ev.repartition(4).write.mode("overwrite").parquet(src_dir)
        raw = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 2).parquet(src_dir))
        assert isinstance(raw.schema["ts"].dataType, TimestampNTZType), \
            "fixture must exercise the NTZ event-time path"
        stream = with_event_time_watermark(raw, "ts", "2 days")
        windowed = stream.select(F.window("ts", "1 day").alias("w"), "value")
        out = sketch_accumulate_stream(windowed, ["w"], "value",
                                       family="quantile", impl="MERGEABLE",
                                       k=262_144)
        q = (out.writeStream.format("memory").queryName("win_stream")
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 120)
        final = spark.sql("""
            SELECT w, state FROM (
              SELECT *, row_number() OVER (PARTITION BY w ORDER BY n DESC) rn
              FROM win_stream) WHERE rn = 1""")
        got = {r.w.start: r.p50 for r in final.select(
            "w", dsf.approx_percentile_estimate("state", 0.5).alias("p50")
        ).collect()}
        # batch comparison over the SAME cast the engine applies, so window
        # boundaries line up whatever the session timezone is
        batch = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        exact = {r.w.start: float(r.p) for r in
                 batch.groupBy(F.window("ts", "1 day").alias("w")).agg(
                     F.expr("percentile_disc(0.5) WITHIN GROUP "
                            "(ORDER BY value)").alias("p")).collect()}
        assert got == exact

    def test_windowed_state_eviction(self, spark, stream_dirs):
        """``evict_after`` must actually DROP window states once the
        watermark passes window.end + delay — the 100 TB-stream
        requirement: state bounded by active windows, not all windows
        ever seen. Three one-day windows arrive in event-time order (one
        file per day, one file per trigger), so day 1's state times out
        while day 3 streams; emitted states must still match batch, and
        the state store's final row count must be smaller than the
        number of windows seen."""
        import json
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream,
            with_event_time_watermark)
        src_dir, ckpt, _ = stream_dirs
        n_per_day = 400
        base = 1_709_251_200  # 2024-03-01 00:00:00 UTC
        ev = spark.range(3 * n_per_day).select(
            F.timestamp_seconds(
                F.lit(base) + (F.col("id") / n_per_day).cast("int") * 86400
                + (F.col("id") % n_per_day) * (86400 // n_per_day)
            ).alias("ts"),
            (F.col("id") % 97).cast("double").alias("value"),
            (F.col("id") / n_per_day).cast("int").alias("day"))
        for d in range(3):  # one file per day, written in day order
            (ev.filter(F.col("day") == d).select("ts", "value")
               .coalesce(1).write.mode("append").parquet(src_dir))
        raw = (spark.readStream.schema("ts timestamp, value double")
               .option("maxFilesPerTrigger", 1).parquet(src_dir))
        stream = with_event_time_watermark(raw, "ts", "0 seconds")
        windowed = stream.select(F.window("ts", "1 day").alias("w"), "value")
        out = sketch_accumulate_stream(windowed, ["w"], "value",
                                       family="quantile", impl="MERGEABLE",
                                       k=262_144, evict_after="1 hour")
        q = (out.writeStream.format("memory").queryName("evict_stream")
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 120)
        final = spark.sql("""
            SELECT w, state FROM (
              SELECT *, row_number() OVER (PARTITION BY w ORDER BY n DESC) rn
              FROM evict_stream) WHERE rn = 1""")
        got = {r.w.start: r.p50 for r in final.select(
            "w", dsf.approx_percentile_estimate("state", 0.5).alias("p50")
        ).collect()}
        exact = {r.w.start: float(r.p) for r in
                 ev.groupBy(F.window("ts", "1 day").alias("w")).agg(
                     F.expr("percentile_disc(0.5) WITHIN GROUP "
                            "(ORDER BY value)").alias("p")).collect()}
        assert got == exact
        assert len(got) == 3
        # state-store metrics: day 1 (at least) was evicted, so the final
        # total is below the number of windows ever seen
        ops = []
        for pr in q.recentProgress:
            d = json.loads(pr.json) if hasattr(pr, "json") else pr
            ops.extend(d.get("stateOperators") or [])
        assert ops, "no stateOperators progress reported"
        removed = sum(op.get("numRowsRemoved", 0) for op in ops)
        assert removed >= 1, "eviction never removed state rows"
        assert ops[-1]["numRowsTotal"] < 3


class TestStreamingCpcWire:
    def test_cpcwire_family_across_triggers(self, spark, tables,
                                            stream_dirs):
        """Genuine-CPC streaming accumulate over 4 micro-batches
        (maxFilesPerTrigger=1 on 4 files): trigger 2+ folds new rows into
        a state REHYDRATED from CPC wire bytes — the exact resume path
        the round-7 review flagged. Final state must be a Java-readable
        family-16 image whose estimate matches the batch exact NDV."""
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.compat import cpc
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream)
        src_dir, ckpt, _ = stream_dirs
        stream = _events_stream(spark, tables, src_dir)
        out = sketch_accumulate_stream(stream, ["event_type"], "user_id",
                                       family="cpcwire", lgk=16)
        q = (out.writeStream.format("memory").queryName("cpc_stream")
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 120)
        final = spark.sql("""
            SELECT event_type, state, n FROM (
              SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY n DESC) rn
              FROM cpc_stream) WHERE rn = 1""")
        rows = final.collect()
        exact = {r.event_type: r.ndv for r in
                 tables["events"].groupBy("event_type").agg(
                     F.countDistinct("user_id").alias("ndv")).collect()}
        assert {r.event_type for r in rows} == set(exact)
        total_rows = tables["events"].count()
        assert sum(r.n for r in rows) == total_rows  # every row folded
        for r in rows:
            img = cpc.parse(bytes(r.state))  # genuine family-16 wire bytes
            assert img.lgk == 16
            assert round(cpc.estimate(img)) == exact[r.event_type]
        # and the states flow through the batch estimate function
        got = {x.event_type: x.ndv for x in final.select(
            "event_type",
            dsf.approx_count_distinct_estimate("state").alias("ndv")
        ).collect()}
        assert got == exact


class TestSessionDistinct:
    def test_batch_sessions_match_exact(self, spark, tables):
        """Batch sessionization: per (event_type, session) distinct users
        equals exact count(DISTINCT) — HLL is exact at fixture NDV."""
        from datasketches_spark_spark.streaming import session_distinct
        ev = tables["events"].select("event_type", "user_id", "ts")
        got = {(r.event_type, r.session.start): r.ndv
               for r in session_distinct(
                   ev, ["event_type"], "user_id", "ts", "1 hour").collect()}
        batch = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        exact = {(r.event_type, r.session.start): r.n
                 for r in batch.groupBy(
                     F.session_window("ts", "1 hour").alias("session"),
                     "event_type")
                 .agg(F.countDistinct("user_id").alias("n")).collect()}
        assert got == exact
        assert len(got) > 0

    def test_streaming_append_emits_closed_sessions(self, spark, tables,
                                                    stream_dirs):
        """Streaming append mode: every emitted session matches its batch
        twin, and the emitted set is exactly the sessions closed by the
        final watermark (end <= max event time - delay)."""
        from datasketches_spark_spark.streaming import (
            await_or_fail, session_distinct)
        src_dir, ckpt, _ = stream_dirs
        ev = tables["events"].select("event_type", "user_id", "ts")
        ev.repartition(4).write.mode("overwrite").parquet(src_dir)
        raw = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 2).parquet(src_dir))
        out = session_distinct(raw, ["event_type"], "user_id", "ts",
                               "1 hour", delay="30 minutes")
        q = (out.writeStream.format("memory").queryName("sess_stream")
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 120)
        got = {(r.event_type, r.session.start): r.ndv
               for r in spark.sql("SELECT * FROM sess_stream").collect()}

        batch_rows = session_distinct(ev, ["event_type"], "user_id",
                                      "ts", "1 hour").collect()
        import datetime
        max_ts = max(r.ts for r in
                     ev.withColumn("ts", F.col("ts").cast("timestamp"))
                       .collect())
        horizon = max_ts - datetime.timedelta(minutes=30)
        closed = {(r.event_type, r.session.start): r.ndv
                  for r in batch_rows if r.session.end <= horizon}
        assert got == closed
        assert len(got) > 0


class TestStreamingMinhashMatch:
    def test_foreachbatch_match_against_corpus(self, spark, tables,
                                               stream_dirs):
        """The minhash_match docstring's streaming claim, proven: incoming
        micro-batches of documents matched against a FIXED corpus inside
        foreachBatch, union of per-batch matches == the one-shot batch
        answer (batching must not change an R-S join's result)."""
        from datasketches_spark_spark.operators import minhash_match
        from datasketches_spark_spark.streaming import await_or_fail
        src_dir, ckpt, _ = stream_dirs
        docs = tables["documents"].select("doc_id", "text")
        corpus = docs.where("doc_id % 7 != 0")
        queries = docs.where("doc_id % 7 = 0")
        queries.repartition(4).write.mode("overwrite").parquet(src_dir)

        collected = []

        def process(batch_df, batch_id):
            rows = minhash_match(batch_df, corpus, "doc_id", "text",
                                 threshold=0.5).collect()
            collected.extend((r.query_id, r.corpus_id, round(r.jaccard, 9))
                             for r in rows)

        stream = (spark.readStream.schema(queries.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src_dir))
        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 180)

        want = sorted((r.query_id, r.corpus_id, round(r.jaccard, 9))
                      for r in minhash_match(queries, corpus, "doc_id",
                                             "text",
                                             threshold=0.5).collect())
        assert sorted(collected) == want
        assert len(want) > 0


class TestMultiMeasureStream:
    def test_multi_matches_two_singles_and_evicts(self, spark, sf_dir,
                                                  tmp_path):
        """One multi-measure state pass == the per-measure batch
        truth. (Eviction shares the single-measure code path, covered
        by the evict_after test above.)"""
        from pyspark.sql import functions as F
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.operators.sketch_agg import (
            distinct_measure, percentile_measure)
        from datasketches_spark_spark.sources import read_table
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream_multi)

        ev = read_table(spark, sf_dir, "events").select(
            "event_type", "value", "user_id")
        src = str(tmp_path / "src")
        ev.repartition(2).write.parquet(src)
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        out = sketch_accumulate_stream_multi(
            stream, ["event_type"],
            [percentile_measure("p50", "value", 0.5,
                                impl="MERGEABLE", k=262_144),
             distinct_measure("ndv", "user_id", k=16_384)])
        q = (out.writeStream.format("memory").queryName("mm_sink")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        await_or_fail(q, 300)
        final = spark.sql("""
            SELECT event_type, p50__state, ndv__state FROM (
              SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY n DESC) rn FROM mm_sink
            ) WHERE rn = 1""")
        got = {r.event_type: (r.p50, r.ndv) for r in final.select(
            "event_type",
            dsf.approx_percentile_estimate("p50__state", 0.5).alias("p50"),
            dsf.approx_count_distinct_estimate("ndv__state").alias("ndv")
        ).collect()}
        want = {r.event_type: (r.p50, r.ndv) for r in ev.groupBy(
            "event_type").agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
            .alias("p50"),
            F.countDistinct("user_id").cast("long").alias("ndv")).collect()}
        assert got == want


class TestIdleKeyEviction:
    @pytest.mark.parametrize("multi", [False, True],
                             ids=["single", "multi"])
    def test_idle_key_state_is_evicted(self, spark, tmp_path, multi):
        """A non-window key with ``evict_after`` times out ``evict_after``
        past the watermark at its last update: a key idle while the
        watermark passes that horizon loses its state, and its next rows
        start a fresh one; a key updated meanwhile keeps its state. One
        file per trigger, 1 h horizon, 0 s watermark delay:

        ====  ===========  ======================  =================
        file  event times  keys                    watermark in batch
        ====  ===========  ======================  =================
        0     00:00-00:05  w w                     none
        1     00:10-00:20  a a a b b b             00:05
        2     00:30-00:40  b b                     00:20
        3     03:00-03:05  b b                     00:40
        4     03:30        b (a's 01:05 passed)    03:05
        5     03:40-03:45  a a                     03:30
        ====  ===========  ======================  =================

        ``w`` is set in the first batch, before any watermark, and times
        out in the second; no assertion depends on when."""
        from datasketches_spark_spark.operators.sketch_agg import (
            distinct_measure)
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream,
            sketch_accumulate_stream_multi, with_event_time_watermark)
        base = 1_709_251_200  # 2024-03-01 00:00:00 UTC
        files = [
            [(0, "w"), (5, "w")],
            [(10, "a"), (12, "a"), (14, "a"),
             (16, "b"), (18, "b"), (20, "b")],
            [(30, "b"), (40, "b")],
            [(180, "b"), (185, "b")],
            [(210, "b")],
            [(220, "a"), (225, "a")],
        ]
        src = str(tmp_path / "src")
        for i, rows in enumerate(files):  # one file each, in event order
            (spark.createDataFrame(
                [(base + minute * 60, k, float(i)) for minute, k in rows],
                "t long, k string, value double")
             .select(F.timestamp_seconds("t").alias("ts"), "k", "value")
             .coalesce(1).write.mode("append").parquet(src))
        raw = (spark.readStream.schema("ts timestamp, k string, value double")
               .option("maxFilesPerTrigger", 1).parquet(src))
        stream = with_event_time_watermark(raw, "ts", "0 seconds")
        if multi:
            out = sketch_accumulate_stream_multi(
                stream, ["k"], [distinct_measure("ndv", "value")],
                evict_after="1 hour")
        else:
            out = sketch_accumulate_stream(stream, ["k"], "value",
                                           family="theta",
                                           evict_after="1 hour")
        name = f"idle_evict_{int(multi)}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        await_or_fail(q, 300)
        emitted = {}
        for r in spark.table(name).collect():
            emitted.setdefault(r.k, []).append(r.n)
        # a: 3 rows, evicted in batch 4, then a fresh state of 2 rows
        # (kept, it would read 5); b: updated every batch, never evicted
        assert {k: sorted(v) for k, v in emitted.items()} == {
            "w": [2], "a": [2, 3], "b": [3, 5, 7, 8]}
        removed = sum(op.get("numRowsRemoved", 0)
                      for pr in q.recentProgress
                      for op in (pr.get("stateOperators") or []))
        assert removed >= 2  # w and a


class TestStreamingTuple:
    def test_tuple_family_rides_stateful_accumulate(self, spark, tables,
                                                    stream_dirs):
        """The round-9 tuple family through the streaming state store:
        'NDV + per-key count/sum + repeat-key segment per group' from
        one continuously-maintained state, equal to the batch answer
        (exact regime). The streaming operator is family-generic — the
        two-column (key, value) input rides the same path as the
        weighted-reservoir family."""
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream)
        src_dir, ckpt, _ = stream_dirs
        stream = _events_stream(spark, tables, src_dir)
        stream = stream.withColumn(
            "vi", F.floor(F.col("value") * 100).cast("double"))
        states = sketch_accumulate_stream(
            stream, ["event_type"], ("user_id", "vi"), family="tuple")
        q = (states.writeStream.format("memory")
             .queryName("tuple_states").outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 120)
        # update-mode memory sink appends per trigger; the row with the
        # largest fold count per key carries the final state
        final = spark.sql("""
            SELECT event_type, state FROM (
              SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY n DESC) rn
              FROM tuple_states
            ) WHERE rn = 1""")
        got = (final.select(
            "event_type",
            dsf.approx_tuple_estimate("state").alias("e"),
            dsf.approx_tuple_segment_estimate("state", 15).alias("s"))
            .orderBy("event_type").collect())
        truth = spark.sql("""
            WITH pk AS (SELECT event_type, user_id, count(*) c,
                               sum(floor(value * 100)) s
                        FROM events GROUP BY 1, 2)
            SELECT event_type, count(*) ndv, sum(c) n_rows, sum(s) vsum,
                   count(CASE WHEN c >= 15 THEN 1 END) seg
            FROM pk GROUP BY event_type ORDER BY event_type""").collect()
        assert len(got) == len(truth)
        for g, t in zip(got, truth):
            assert g.event_type == t.event_type
            assert (g.e.ndv, g.e.rows, g.e.value_sum) == \
                (t.ndv, t.n_rows, float(t.vsum))
            assert g.s.keys == t.seg


class TestSessionSummaries:
    def test_batch_bounds_match_native_session_window(self, spark, tables):
        """The operator's own gap merge reproduces Spark's native
        session_window bounds exactly, and the per-session engine-HLL
        NDV equals exact count(DISTINCT) (fixture NDV << sparse cap)."""
        from datasketches_spark_spark.streaming import session_summaries
        from datasketches_spark_spark import functions as dsf
        ev = tables["events"].select("event_type", "user_id", "ts")
        out = session_summaries(ev, ["event_type"], "user_id", "ts",
                                "1 hour", family="hll")
        got = {(r.event_type, r.session_start, r.session_end): r.ndv
               for r in out.select(
                   "event_type", "session_start", "session_end",
                   dsf.approx_count_distinct_estimate("state")
                   .alias("ndv")).collect()}
        batch = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        exact = {(r.event_type, r.s, r.e): r.n
                 for r in batch.groupBy(
                     F.session_window("ts", "1 hour").alias("w"),
                     "event_type")
                 .agg(F.countDistinct("user_id").alias("n"))
                 .select("event_type",
                         F.unix_millis("w.start").alias("s"),
                         F.unix_millis("w.end").alias("e"), "n")
                 .collect()}
        assert got == exact and len(got) > 0

    def test_streaming_tuple_sessions_match_batch(self, spark, tables,
                                                  stream_dirs):
        """Verdict #8: gap sessionization with ENGINE states through the
        state store — streaming emissions (tuple family, per-session
        (user, value) summaries) equal the batch operator row-for-row on
        the sessions the final watermark closes; a session emits exactly
        once. Arrival is EVENT-TIME-ORDERED (each quartile slice written
        as its own append, increasing mtimes) so the watermark advances
        through several closing rounds — Spark drops sub-watermark rows
        upstream of applyInPandasWithState, so out-of-order file arrival
        beyond `delay` is out of contract (documented)."""
        import datetime
        import time
        from datasketches_spark_spark.streaming import (
            await_or_fail, session_summaries)
        from datasketches_spark_spark import functions as dsf
        src_dir, ckpt, _ = stream_dirs
        ev = tables["events"].select("event_type", "user_id", "value", "ts")
        ms = F.unix_millis(F.col("ts").cast("timestamp"))
        b = ev.select(ms.alias("m")).selectExpr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY m) q1",
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY m) q2",
            "percentile_disc(0.75) WITHIN GROUP (ORDER BY m) q3"
        ).collect()[0]
        for s in [ev.where(ms <= b.q1),
                  ev.where((ms > b.q1) & (ms <= b.q2)),
                  ev.where((ms > b.q2) & (ms <= b.q3)),
                  ev.where(ms > b.q3)]:
            s.coalesce(1).write.mode("append").parquet(src_dir)
            time.sleep(1.1)
        raw = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(src_dir))

        def summarize(df):
            return {(r.event_type, r.session_start, r.session_end):
                    (r.e.ndv, r.e.rows, round(float(r.e.value_sum), 6),
                     r.n)
                    for r in df.select(
                        "event_type", "session_start", "session_end", "n",
                        dsf.approx_tuple_estimate("state").alias("e"))
                    .collect()}

        out = session_summaries(raw, ["event_type"],
                                ("user_id", "value"), "ts", "1 hour",
                                family="tuple", delay="30 minutes")
        q = (out.writeStream.format("memory").queryName("sess_sum")
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 180)
        got = summarize(spark.table("sess_sum"))
        # exactly-once: no (key, session) emitted twice
        assert len(spark.table("sess_sum").collect()) == len(got)

        batch = session_summaries(ev, ["event_type"],
                                  ("user_id", "value"), "ts", "1 hour",
                                  family="tuple")
        max_ts = max(r.ts for r in
                     ev.withColumn("ts", F.col("ts").cast("timestamp"))
                     .collect())
        horizon_ms = int((max_ts - datetime.timedelta(minutes=30))
                         .timestamp() * 1000)
        all_batch = summarize(batch)
        closed = {k: v for k, v in all_batch.items()
                  if k[2] <= horizon_ms}
        assert got == closed
        assert 0 < len(got) < len(all_batch)


class TestStreamingBloom:
    def test_bloom_family_rides_stateful_accumulate(self, spark, tables,
                                                    stream_dirs):
        """Round-12 Bloom membership through the streaming state store:
        a continuously-maintained seen-key filter per group. The family
        registry makes this free — the final state must behave exactly
        like the batch-built filter: every user_id ever streamed tests
        positive (no false negatives across ANY trigger boundary) and
        the state equals the batch state BIT-FOR-BIT (union
        homomorphism: fold order across micro-batches is irrelevant)."""
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.operators import sketch_accumulate
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream)
        src_dir, ckpt, _ = stream_dirs
        stream = _events_stream(spark, tables, src_dir)
        states = sketch_accumulate_stream(
            stream, ["event_type"], "user_id", family="bloom",
            expected_items=4096, fpp=0.01)
        q = (states.writeStream.format("memory")
             .queryName("bloom_states").outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_or_fail(q, 120)
        final = spark.sql("""
            SELECT event_type, state FROM (
              SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY n DESC) rn
              FROM bloom_states
            ) WHERE rn = 1""")
        batch = sketch_accumulate(
            tables["events"], ["event_type"], "user_id", family="bloom",
            expected_items=4096, fpp=0.01, state_col="bstate")
        # bit-identical to the batch state
        sb = {r.event_type: bytes(r.state) for r in final.collect()}
        bb = {r.event_type: bytes(r.bstate) for r in batch.collect()}
        assert sb == bb
        # and no false negatives through the SQL surface
        misses = (tables["events"].select("event_type", "user_id")
                  .join(final, "event_type")
                  .where(~dsf.approx_membership_contains(
                      F.col("state"), F.col("user_id"))).count())
        assert misses == 0


class TestSingleMeasureStreamParity:
    """``sketch_accumulate_stream`` is the one-measure form of
    ``sketch_accumulate_stream_multi``: over one stream whose double
    measure ``v`` holds nulls and NaNs, both build the same final state
    bytes as batch ``sketch_accumulate`` (the streaming counterpart of
    ``test_family_table.py``'s per-name byte check). Only ``n`` differs:
    the single form counts the rows whose ``v`` is neither null nor NaN,
    the multi form every row of the group."""

    # (g, v, x) per file; one file per trigger
    FILES = [
        [(0, 1.5, 1.0), (0, None, 2.0), (1, 2.5, 3.0), (1, float("nan"), 4.0),
         (2, None, 5.0)],
        [(0, 3.5, 6.0), (0, float("nan"), None), (1, 1.5, 7.0),
         (2, 4.5, 8.0), (2, 4.5, None)],
        [(0, 1.5, 9.0), (1, None, 1.0), (1, 6.5, 2.0), (2, float("nan"), 3.0),
         (2, 0.5, 4.0)],
    ]

    def _final_states(self, spark, tmp_path, files, family, col):
        """Streams ``files`` (one per trigger) through the single and the
        one-measure multi stream and reads them in one batch
        ``sketch_accumulate``: ({g: (n, state)}, {g: (n, state)},
        {g: state}), each stream's last row per group."""
        from datasketches_spark_spark.operators import sketch_accumulate
        from datasketches_spark_spark.operators.sketch_agg import (
            state_measure)
        from datasketches_spark_spark.streaming import (
            await_or_fail, sketch_accumulate_stream,
            sketch_accumulate_stream_multi)
        # ``i`` numbers the rows in stream order: the batch scan replays
        # that order, since an exact-regime quantile state keeps it
        schema = "i int, g int, v double, x double"
        src = str(tmp_path / "src")
        i = 0
        for rows in files:
            (spark.createDataFrame([(i + j, *r) for j, r in enumerate(rows)],
                                   schema)
             .coalesce(1).write.mode("append").parquet(src))
            i += len(rows)

        def blob(b):
            return None if b is None else bytes(b)

        def final(out, state_col, tag):
            name = f"parity_{family}_{tag}_{tmp_path.name}"
            q = (out.writeStream.format("memory").queryName(name)
                 .outputMode("update")
                 .option("checkpointLocation", str(tmp_path / tag))
                 .trigger(availableNow=True).start())
            await_or_fail(q, 300)
            last = {}
            for r in spark.table(name).collect():
                if r.g not in last or r.n >= last[r.g][0]:
                    last[r.g] = (r.n, blob(r[state_col]))
            return last

        def stream():
            return (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1).parquet(src))

        single = final(sketch_accumulate_stream(stream(), ["g"], col, family),
                       "state", "single")
        multi = final(sketch_accumulate_stream_multi(
            stream(), ["g"], [state_measure("m", col, family)]),
            "m__state", "multi")
        ordered = (spark.read.schema(schema).parquet(src)
                   .repartition(1).sortWithinPartitions("i"))
        batch = {r.g: blob(r.state) for r in sketch_accumulate(
            ordered, ["g"], col, family).collect()}
        return single, multi, batch

    @pytest.mark.parametrize("family,col", [
        ("quantile", "v"), ("theta", "v"), ("tuple", ("v", "x"))],
        ids=["quantile", "theta", "tuple"])
    def test_single_multi_and_batch_states_match(self, spark, tmp_path,
                                                 family, col):
        single, multi, batch = self._final_states(
            spark, tmp_path, self.FILES, family, col)
        assert {g: s for g, (_, s) in single.items()} == batch
        assert {g: s for g, (_, s) in multi.items()} == batch
        rows = [r for f in self.FILES for r in f]
        assert {g: n for g, (n, _) in single.items()} == {
            g: sum(1 for r in rows if r[0] == g and r[1] is not None
                   and not math.isnan(r[1])) for g in batch}
        assert {g: n for g, (n, _) in multi.items()} == {
            g: sum(1 for r in rows if r[0] == g) for g in batch}

    @pytest.mark.parametrize("family,col", [
        ("theta", "v"), ("freq", "v"), ("hll", "v"), ("quantile", "v"),
        ("tuple", ("v", "x"))])
    def test_all_null_group_state_is_null(self, spark, tmp_path, family,
                                          col):
        """Group 3's ``v`` is null or NaN on every trigger: both streams
        store and emit a null state for it, as batch accumulate does, and
        the other groups' states still match batch byte for byte."""
        files = [f + [(3, None, 1.0), (3, float("nan"), 2.0)]
                 for f in self.FILES]
        single, multi, batch = self._final_states(
            spark, tmp_path, files, family, col)
        assert batch[3] is None and batch[0] is not None
        assert single[3] == (0, None)
        assert multi[3] == (6, None)
        assert {g: s for g, (_, s) in single.items()} == batch
        assert {g: s for g, (_, s) in multi.items()} == batch
