"""DataSketches BloomFilter wire interop (compat/bloomwire.py) —
validated LIVE against the datasketches-java bundled with PySpark
(the q41/AoD validation pattern)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import datasketches_spark_spark as dss
from datasketches_spark_spark import functions as dsf
from datasketches_spark_spark.compat.bloomwire import (
    DsBloomFilter,
    is_dsbloom,
    xxhash64_bytes,
    xxhash64_longs,
)


@pytest.fixture(scope="module")
def jbuilder(spark):
    dss.install(spark)
    return spark._jvm.org.apache.datasketches.filters.bloomfilter \
        .BloomFilterBuilder


def _jheapify(spark, data: bytes):
    jvm = spark._jvm
    return jvm.org.apache.datasketches.filters.bloomfilter.BloomFilter \
        .heapify(jvm.org.apache.datasketches.memory.Memory.wrap(
            bytearray(data)))


class TestXxHash:
    def test_longs_match_spark_jvm(self, spark):
        vals = np.array([0, 1, -7, 12345, 2**62, -2**62], dtype=np.int64)
        df = spark.createDataFrame([(int(v),) for v in vals], ["v"])
        jvm = {r.v: r.h & ((1 << 64) - 1) for r in
               df.select("v", F.xxhash64("v").alias("h")).collect()}
        mine = xxhash64_longs(vals, 42)
        for v, h in zip(vals, mine):
            assert jvm[int(v)] == int(h)

    def test_bytes_path_consistent_with_longs(self):
        import struct
        for v in (0, 99, 2**40):
            assert xxhash64_bytes(struct.pack("<q", v), 7) == \
                int(xxhash64_longs(np.array([v], np.int64), 7)[0])


def _same_modulo_count(jbytes: bytes, ebytes: bytes) -> bool:
    """Java dumps numBitsSet = -1 after raw updates (lazy); the engine
    always writes the computed count (canonical, layout-proof). Bit
    arrays and every other header byte must be identical."""
    return (len(jbytes) == len(ebytes)
            and jbytes[:24] == ebytes[:24]
            and jbytes[32:] == ebytes[32:]
            and jbytes[24:32] == b"\xff" * 8)


class TestWireByteIdentity:
    def test_longs_stream_identical_modulo_lazy_count(self, spark,
                                                      jbuilder):
        jf = jbuilder.createBySize(2048, 6, 31337)
        mine = DsBloomFilter(2048, 6, 31337)
        vals = list(range(0, 500, 7))
        for v in vals:
            jf.update(v)
        mine.update_longs(np.array(vals, dtype=np.int64))
        assert _same_modulo_count(bytes(jf.toByteArray()),
                                  mine.serialize())
        # engine count field is the true popcount
        import struct
        (cnt,) = struct.unpack_from("<q", mine.serialize(), 24)
        assert cnt == mine.bits_set()

    def test_string_stream_identical_modulo_lazy_count(self, spark,
                                                       jbuilder):
        jf = jbuilder.createBySize(512, 4, 7)
        mine = DsBloomFilter(512, 4, 7)
        words = [f"tok{i}" for i in range(60)] + ["héllo wörld", "x" * 100]
        for w in words:
            jf.update(w)
        mine.update_strings(words)
        assert _same_modulo_count(bytes(jf.toByteArray()),
                                  mine.serialize())

    def test_empty_byte_identical_and_java_heapifies(self, spark, jbuilder):
        je = jbuilder.createBySize(128, 3, 0)
        ee = DsBloomFilter(128, 3, 0)
        assert bytes(je.toByteArray()) == ee.serialize()
        assert _jheapify(spark, ee.serialize()).isEmpty()

    def test_union_byte_identical(self, spark, jbuilder):
        ja = jbuilder.createBySize(1024, 5, 99)
        jb = jbuilder.createBySize(1024, 5, 99)
        for v in range(100):
            ja.update(v)
        for v in range(100, 200):
            jb.update(v)
        ea = DsBloomFilter.deserialize(bytes(ja.toByteArray()))
        eb = DsBloomFilter.deserialize(bytes(jb.toByteArray()))
        ja.union(jb)  # java recounts on union -> full byte identity
        assert bytes(ja.toByteArray()) == ea.merge(eb).serialize()


class TestCrossReads:
    def test_java_reads_engine_members(self, spark, jbuilder):
        mine = DsBloomFilter.design(1000, 0.01, seed=5)
        mine.update_longs(np.arange(1000, dtype=np.int64))
        heap = _jheapify(spark, mine.serialize())
        assert all(heap.query(v) for v in range(0, 1000, 13))
        fp = sum(heap.query(v) for v in range(10**6, 10**6 + 1000))
        assert fp <= 30  # design 1%

    def test_engine_reads_java_members(self, spark, jbuilder):
        jf = jbuilder.createByAccuracy(1000, 0.01, 11)
        for v in range(500):
            jf.update(v)
        back = DsBloomFilter.deserialize(bytes(jf.toByteArray()))
        assert back.contains_longs(
            np.arange(500, dtype=np.int64)).all()
        assert is_dsbloom(bytes(jf.toByteArray()))
        assert abs(back.estimate() - 500) <= 25


class TestSparkSurface:
    def test_wire_accumulate_reads_through_membership_fns(self, spark,
                                                          tables):
        ev = tables["events"]
        st = ev.groupBy("event_type").agg(
            dsf.approx_membership_accumulate_wire(
                "user_id", expected_items=4096, fpp=0.01,
                item_type="long").alias("ws"))
        probe = st.select(
            "event_type",
            dsf.approx_membership_contains(
                F.col("ws"), F.col("event_type")).alias("s_miss"),
            dsf.approx_membership_estimate("ws").alias("est"),
            dsf.approx_membership_fpp("ws").alias("fpp"))
        exact = {r.event_type: r.n for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n")).collect()}
        for r in probe.collect():
            assert r.s_miss is False  # event_type strings never fed
            assert abs(r.est - exact[r.event_type]) <= \
                max(1, 0.1 * exact[r.event_type])
            assert r.fpp < 0.01

    def test_java_validates_spark_built_state(self, spark, tables, jbuilder):
        ev = tables["events"]
        (row,) = (ev.agg(dsf.approx_membership_accumulate_wire(
            "user_id", expected_items=4096, item_type="long")
            .alias("ws")).collect())
        heap = _jheapify(spark, bytes(row.ws))
        uids = [r.user_id for r in
                ev.select("user_id").distinct().collect()]
        assert all(heap.query(u) for u in uids)

    def test_partition_layout_invariant(self, spark):
        from datasketches_spark_spark.operators import sketch_accumulate
        df = spark.range(0, 4000).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("v"))
        one = sketch_accumulate(df.coalesce(1), ["g"], "v",
                                family="bloomwire", expected_items=2000,
                                fpp=0.01, item_type="long")
        many = sketch_accumulate(df.repartition(64), ["g"], "v",
                                 family="bloomwire", expected_items=2000,
                                 fpp=0.01, item_type="long")
        assert {r.g: bytes(r.state) for r in one.collect()} == \
            {r.g: bytes(r.state) for r in many.collect()}

    def test_cross_family_merge_raises(self, spark):
        from datasketches_spark_spark.sketches import BloomFilter
        from datasketches_spark_spark.sketches.theta import hash_longs
        wire = DsBloomFilter(128, 3, 0)
        native = BloomFilter(128, 3)
        native.update_hashes(hash_longs(np.arange(5, dtype=np.int64)))
        with pytest.raises(ValueError, match="hash spaces"):
            wire.merge(native)

    def test_sql_two_phase_wire(self, spark, tables):
        import warnings
        from datasketches_spark_spark.sql import SketchSqlFallbackWarning
        tables["events"].createOrReplaceTempView("events")
        with warnings.catch_warnings():
            warnings.simplefilter("error", SketchSqlFallbackWarning)
            df = dss.sql(spark, """
                SELECT approx_membership_estimate(
                         approx_membership_accumulate_wire_long(user_id))
                         AS est
                FROM events""")
            (r,) = df.collect()
        exact = tables["events"].select("user_id").distinct().count()
        assert abs(r.est - exact) <= max(1, 0.1 * exact)


class TestDesignJavaParity:
    def test_numhashes_ceils_like_builder(self, spark, jbuilder):
        # round() under-picks at these points (ADVICE r12): (1000, 0.1)
        # -> java 4 (round gives 3), (100, 0.5) -> java 2 (round 1).
        # Sweep a grid live against BloomFilterBuilder.createByAccuracy
        # so engine-designed and java-designed filters always share
        # geometry (merge requires it).
        for n, fpp in [(1000, 0.1), (100, 0.5), (100, 0.01), (4096, 0.01),
                       (1, 0.5), (7, 0.3), (50_000, 0.001), (12, 0.9),
                       (333, 0.05), (2**20, 0.01)]:
            jf = jbuilder.createByAccuracy(n, float(fpp))
            ef = DsBloomFilter.design(n, fpp)
            assert ef.n_hashes == jf.getNumHashes(), (n, fpp)
            assert ef.m_bits == jf.getCapacity(), (n, fpp)

    def test_mixed_origin_union_at_advice_points(self, spark, jbuilder):
        # the exact parameters the r12 round()-rule broke on must union
        for n, fpp in [(1000, 0.1), (100, 0.5)]:
            jf = jbuilder.createByAccuracy(n, float(fpp), 7)
            for i in range(20):
                jf.update(f"k{i}")
            ef = DsBloomFilter.design(n, fpp, seed=7)
            ef.update_strings([f"e{i}" for i in range(20)])
            u = ef.merge(DsBloomFilter.deserialize(bytes(jf.toByteArray())))
            got = u.contains_strings([f"k{i}" for i in range(20)]
                                     + [f"e{i}" for i in range(20)])
            assert got.all()


class TestNullableDtypeDispatch:
    """ADVICE r12: nullable bigint columns cross Arrow as float64 when
    a batch holds a null; both the accumulate and the probe must hash
    them as longs (state content and probe results may not depend on
    which batch a null lands in)."""

    def test_long_state_probed_by_nullable_long_column(self, spark):
        keys = spark.createDataFrame(
            [(int(i),) for i in range(200)], "v long")
        (row,) = keys.agg(dsf.approx_membership_accumulate_wire(
            "v", expected_items=1024, item_type="long")
            .alias("bf")).collect()
        # probe column: same keys + nulls -> float64 Arrow batches
        probe = spark.createDataFrame(
            [(int(i), int(i)) for i in range(200)]
            + [(1000 + j, None) for j in range(5)], "id long, v long")
        hits = (probe.crossJoin(
                    spark.createDataFrame([(bytes(row.bf),)], "bf binary"))
                .select("v", dsf.approx_membership_contains(
                    F.col("bf"), F.col("v")).alias("hit"))
                .collect())
        by_v = {r.v: r.hit for r in hits}
        assert all(by_v[i] for i in range(200)), "false negatives"
        assert by_v[None] is None

    def test_long_state_probe_item_type_pinned(self, spark):
        keys = spark.createDataFrame(
            [(int(i),) for i in range(100)], "v long")
        (row,) = keys.agg(dsf.approx_membership_accumulate_wire(
            "v", expected_items=1024, item_type="long")
            .alias("bf")).collect()
        probe = spark.createDataFrame(
            [(int(i),) for i in range(100)] + [(None,)], "v long")
        got = (probe.crossJoin(
                   spark.createDataFrame([(bytes(row.bf),)], "bf binary"))
               .select(dsf.approx_membership_contains(
                   F.col("bf"), F.col("v"), item_type="long")
                   .alias("hit"))
               .where(F.col("hit").isNotNull()))
        assert got.count() == 100
        assert got.where(~F.col("hit")).count() == 0

    def test_acc_state_null_independent(self, spark):
        """Same logical keys with and without a null row in the group
        must produce byte-identical wire states (both item types)."""
        clean = spark.createDataFrame(
            [(int(i),) for i in range(50)], "v long").coalesce(1)
        dirty = spark.createDataFrame(
            [(int(i),) for i in range(50)] + [(None,)],
            "v long").coalesce(1)
        for it in ("long", "string"):
            a = bytes(clean.agg(dsf.approx_membership_accumulate_wire(
                "v", expected_items=256, item_type=it).alias("s"))
                .collect()[0].s)
            b = bytes(dirty.agg(dsf.approx_membership_accumulate_wire(
                "v", expected_items=256, item_type=it).alias("s"))
                .collect()[0].s)
            assert a == b, it

    def test_sql_registered_acc_null_independent(self, spark):
        import datasketches_spark_spark as dss
        dss.install(spark)
        clean = spark.createDataFrame(
            [(int(i),) for i in range(50)], "v long").coalesce(1)
        dirty = spark.createDataFrame(
            [(int(i),) for i in range(50)] + [(None,)],
            "v long").coalesce(1)
        for fn in ("approx_membership_accumulate_wire",
                   "approx_membership_accumulate_wire_long"):
            clean.createOrReplaceTempView("t_bw_clean")
            dirty.createOrReplaceTempView("t_bw_dirty")
            a = bytes(spark.sql(
                f"SELECT {fn}(v) AS s FROM t_bw_clean").collect()[0].s)
            b = bytes(spark.sql(
                f"SELECT {fn}(v) AS s FROM t_bw_dirty").collect()[0].s)
            assert a == b, fn

    def test_sketch_agg_bloomwire_string_mode_null_independent(self, spark):
        from datasketches_spark_spark.operators import sketch_accumulate
        clean = spark.createDataFrame(
            [(0, int(i)) for i in range(50)], "g int, v long").coalesce(1)
        dirty = spark.createDataFrame(
            [(0, int(i)) for i in range(50)] + [(0, None)],
            "g int, v long").coalesce(1)
        outs = []
        for df in (clean, dirty):
            (r,) = sketch_accumulate(df, ["g"], "v", family="bloomwire",
                                     expected_items=256, fpp=0.01,
                                     item_type="string").collect()
            outs.append(bytes(r.state))
        assert outs[0] == outs[1]


class TestEmptyCorpusPrefilter:
    def test_bloom_prefilter_empty_corpus(self, spark):
        from datasketches_spark_spark.operators import bloom_prefilter_match
        incoming = spark.createDataFrame(
            [(1, "aaa"), (2, "bbb")], "doc_id long, fp string")
        corpus = incoming.limit(0)
        out = bloom_prefilter_match(incoming, corpus, "doc_id",
                                    fingerprint_col="fp",
                                    expected_items=64)
        assert out.columns == ["doc_id", "fingerprint"]
        assert out.count() == 0


class TestContainsLongSql:
    def test_sql_pinned_long_probe(self, spark):
        import datasketches_spark_spark as dss
        dss.install(spark)
        spark.createDataFrame([(int(i),) for i in range(100)], "k long") \
            .createOrReplaceTempView("t_cl_keys")
        probe = spark.createDataFrame(
            [(int(i),) for i in range(100)] + [(None,)], "k long")
        probe.createOrReplaceTempView("t_cl_probe")
        got = spark.sql("""
            SELECT p.k,
                   approx_membership_contains_long(s.bf, p.k) AS hit
            FROM t_cl_probe p CROSS JOIN (
              SELECT approx_membership_accumulate_wire_long(k) AS bf
              FROM t_cl_keys) s
        """).collect()
        by = {r.k: r.hit for r in got}
        assert all(by[i] for i in range(100))
        assert by[None] is None

    def test_broadcast_and_keyed_udfs_honor_item_type(self, spark):
        import numpy as np

        from datasketches_spark_spark.functions.udfs import (
            bloom_contains_broadcast_udf, bloom_contains_keyed_udf)
        from datasketches_spark_spark.sketches import ITEM_LONG
        sk = DsBloomFilter.design(1024, 0.01)
        sk.update_longs(np.arange(50, dtype=np.int64))
        bc = spark.sparkContext.broadcast(sk.serialize())
        probe = spark.createDataFrame(
            [(int(i),) for i in range(50)] + [(None,)], "v long")
        hits = (probe.select(
            bloom_contains_broadcast_udf(bc, ITEM_LONG)(F.col("v"))
            .alias("hit")).where(F.col("hit").isNotNull()))
        assert hits.count() == 50 and hits.where("NOT hit").count() == 0
        kbc = spark.sparkContext.broadcast({"g": sk.serialize()})
        khits = (probe.select(
            bloom_contains_keyed_udf(kbc, ITEM_LONG)(
                F.lit("g"), F.col("v")).alias("hit"))
            .where(F.col("hit").isNotNull()))
        assert khits.count() == 50 and khits.where("NOT hit").count() == 0


class TestNullIndependenceAllWireFamilies:
    """The _wire_strings rendering applies across every string-path
    accumulate: the same logical bigint keys must produce identical
    state bytes whether or not a batch carries a null (ADVICE r12
    generalized beyond the Bloom family)."""

    @pytest.mark.parametrize("family,params", [
        ("cpcwire", {"lgk": 11}),
        ("thetawire", {"k": 4096}),
        ("freq", {"max_map_size": 64}),
        ("bloomwire", {"expected_items": 256, "fpp": 0.01}),
    ])
    def test_sketch_agg_families(self, spark, family, params):
        from datasketches_spark_spark.operators import sketch_accumulate
        clean = spark.createDataFrame(
            [(0, int(i)) for i in range(40)], "g int, v long").coalesce(1)
        dirty = spark.createDataFrame(
            [(0, int(i)) for i in range(40)] + [(0, None)],
            "g int, v long").coalesce(1)
        outs = []
        for df in (clean, dirty):
            (r,) = sketch_accumulate(df, ["g"], "v", family=family,
                                     item_type="str", **params).collect()
            outs.append(bytes(r.state))
        assert outs[0] == outs[1], family

    def test_wire_acc_udfs(self, spark):
        clean = spark.createDataFrame(
            [(int(i),) for i in range(40)], "v long").coalesce(1)
        dirty = spark.createDataFrame(
            [(int(i),) for i in range(40)] + [(None,)],
            "v long").coalesce(1)
        for mk in (lambda: dsf.approx_count_distinct_accumulate_cpc(
                       "v", lgk=11),
                   lambda: dsf.approx_count_distinct_accumulate_theta_wire(
                       "v", k=4096)):
            a = bytes(clean.agg(mk().alias("s")).collect()[0].s)
            b = bytes(dirty.agg(mk().alias("s")).collect()[0].s)
            assert a == b


class TestDefaultPairingNoFalseNegatives:
    """ADVICE r13 (high): a bigint column accumulated with the DEFAULT
    item_type (string rendering) and probed with the DEFAULT 2-arg
    contains (dtype-sniffed) must still hit every key. The unpinned
    integer probe now tests BOTH wire hash spaces and ORs — no false
    negatives whichever default built the state."""

    def _state(self, spark, item_type=None):
        keys = spark.createDataFrame(
            [(int(i),) for i in range(300)], "v long")
        kw = {} if item_type is None else {"item_type": item_type}
        (row,) = keys.agg(dsf.approx_membership_accumulate_wire(
            "v", expected_items=2048, **kw).alias("bf")).collect()
        return bytes(row.bf)

    @pytest.mark.parametrize("acc_item_type", [None, "long", "string"])
    def test_default_probe_hits_all(self, spark, acc_item_type):
        bf = self._state(spark, acc_item_type)
        probe = spark.createDataFrame(
            [(int(i),) for i in range(300)], "v long")
        got = (probe.crossJoin(
                   spark.createDataFrame([(bf,)], "bf binary"))
               .select(dsf.approx_membership_contains(
                   F.col("bf"), F.col("v")).alias("hit")))
        assert got.where(~F.col("hit")).count() == 0, \
            f"false negatives (acc item_type={acc_item_type})"
        assert got.where(F.col("hit")).count() == 300

    def test_sql_default_default_pairing(self, spark):
        dss.install(spark)
        spark.createDataFrame([(int(i),) for i in range(200)], "v long") \
            .createOrReplaceTempView("t_bw_dd_keys")
        spark.sql("""
            SELECT approx_membership_accumulate_wire(v) AS bf
            FROM t_bw_dd_keys""").createOrReplaceTempView("t_bw_dd_state")
        misses = spark.sql("""
            SELECT count(*) AS n FROM t_bw_dd_keys k, t_bw_dd_state s
            WHERE NOT approx_membership_contains(s.bf, k.v)
        """).collect()[0].n
        assert misses == 0

    def test_unpinned_probe_fpp_still_bounded(self, spark):
        # OR-of-two-spaces at most doubles the design fpp; never-seen
        # keys must still overwhelmingly test negative.
        bf = self._state(spark)  # default (string-rendered) state
        probe = spark.createDataFrame(
            [(int(i),) for i in range(100_000, 102_000)], "v long")
        fp = (probe.crossJoin(
                  spark.createDataFrame([(bf,)], "bf binary"))
              .select(dsf.approx_membership_contains(
                  F.col("bf"), F.col("v")).alias("hit"))
              .where(F.col("hit")).count())
        assert fp <= 2000 * 0.05  # design 1% -> OR bound 2%, slack 5%

    def test_wire_longs_fractional_raises(self):
        # ADVICE r13 (low): silent np.rint of non-integral doubles
        # under item_type='long' is a wrong-key factory — raise.
        import pandas as pd
        from datasketches_spark_spark.functions.udfs import _wire_longs
        with pytest.raises(ValueError, match="non-integral"):
            _wire_longs(pd.Series([1.0, 2.5, 3.0]))
        got = _wire_longs(pd.Series([1.0, 2.0, 3.0]))
        assert list(got) == [1, 2, 3]
