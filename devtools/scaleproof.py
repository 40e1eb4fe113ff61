#!/usr/bin/env python
"""Spark scale proofs: run each op at two input scales and record wall
seconds, output rows and TOTAL SHUFFLE WRITE BYTES (task-level Shuffle
Bytes Written from the Spark event log, summed over every job the op
ran).

A linear operator grows ~10x in rows/bytes between the x1 and x10
points; an accidental all-pairs operator grows ~100x; a scan-stage
operator keeps shuffle bytes FLAT. Each (op, scale) runs in its own
SparkSession (``local[$SPARK_GRAFT_CPUS]``, default 32) so event logs
and JVM state cannot bleed between measurements. Results print as one
JSON line per (op, scale), then one ratio line per op.

Every op returns ``consume(df, *cols)``, a checksum aggregate over the
operator's computed output columns; the runner refuses anything else.
A bare ``.count()`` lets Catalyst prune computed columns nobody
consumes and so measures the wrong plan. Ops whose claim is
"scan-stage" also assert ``_assert_no_exchange`` on the operator plan.

Fixture sets (under ``.scaleproof/``, gitignored):

* ``x1`` / ``x10``: the corpus fixtures that ``devtools/gen_scaleproof.py``
  writes (sf0.1 and sf1 shapes, 5k / 50k documents);
* ``warc_x1`` / ``warc_x10``: gzipped, chunked and gzip-coded HTTP
  response records, 4 / 40 files of 300, written on demand;
* ``codec_x1`` / ``codec_x10``: the same, with bodies rotating
  gzip / brotli / brotli+UTF-16 / zstd coding, written on demand;
* ``range_x1`` / ``range_x10``: no files; the op builds its input from
  ranges, 2k / 20k rows per unit.

Usage: ``python devtools/scaleproof.py [op ...]`` (no op: run them all;
the op names are the keys of ``OPS``).
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

FIXTURES = os.path.join(HERE, ".scaleproof")


def shuffle_bytes_from_eventlog(log_dir: str) -> tuple[int, int]:
    """(shuffle_write_bytes, input_bytes) summed over all task ends in
    every event log under ``log_dir``."""
    write = inp = 0
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in files]
    for path in paths:
        opener = gzip.open if path.endswith(".gz") else open
        try:
            with opener(path, "rt", errors="replace") as fh:
                for line in fh:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    write += int(sw.get("Shuffle Bytes Written", 0))
                    im = tm.get("Input Metrics") or {}
                    inp += int(im.get("Bytes Read", 0))
        except Exception:
            pass
    return write, inp


def consume(df, *cols):
    """Aggregate a layout-independent checksum over ``cols`` — every
    listed column is forced through the executed plan (Catalyst cannot
    prune what the final aggregate reads), and ``sum`` is insensitive
    to row order. Returns the dict the runner requires."""
    from pyspark.sql import functions as F
    if not cols:
        raise ValueError("consume() needs the computed columns")
    row = df.agg(
        F.sum(F.xxhash64(*[F.col(c) for c in cols])
              .cast("decimal(38,0)")).alias("inv"),
        F.count(F.lit(1)).alias("rows")).collect()[0]
    return {"rows": int(row["rows"]),
            "invariant": int(row["inv"]) if row["inv"] is not None else 0}


def _assert_no_exchange(df, label: str) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(f"{label}: operator plan contains an "
                             f"Exchange:\n{plan}")


def run_op(name, fn, scale_dir) -> dict:
    from datasketches_spark_spark.sources import session_builder
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    log_dir = tempfile.mkdtemp(prefix="dss_scaleproof_log_")
    spark = (session_builder(master=f"local[{cpus}]", shuffle_partitions=32)
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        t0 = time.perf_counter()
        res = fn(spark, scale_dir)
        wall = time.perf_counter() - t0
    finally:
        spark.stop()
    if not (isinstance(res, dict) and "invariant" in res
            and "rows" in res):
        raise TypeError(
            f"{name}: scale proofs must return consume(df, *computed_cols)"
            " — a bare count lets Catalyst prune the computed columns and"
            " measure the wrong plan")
    time.sleep(1.0)  # let the event log flush and close
    shuf, inp = shuffle_bytes_from_eventlog(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    out = {"op": name, "scale": os.path.basename(scale_dir),
           "wall_s": round(wall, 2), "rows": res["rows"],
           "invariant": res["invariant"],
           "shuffle_mb": round(shuf / 1e6, 2),
           "input_mb": round(inp / 1e6, 2)}
    print(json.dumps(out), flush=True)
    return out


def _docs(spark, d):
    return spark.read.parquet(os.path.join(d, "documents.parquet"))


def _n(d: str) -> int:
    """Range ops' unit row count: 2k at x1, 20k at x10."""
    return 2_000 * (10 if d.endswith("x10") else 1)


# ------------------------------------------------- pair-generation queries

def _board(qname):
    """A board query of ``__spark_entry__`` (quadratic-risk pair
    generation), consumed over all its output columns."""
    def op(spark, d):
        import __spark_entry__ as entrymod
        import datasketches_spark_spark as dss
        dss.install(spark)
        df = entrymod.queries()[qname](spark, d)
        return consume(df, *df.columns)
    return op


# -------------------------------------------- corpus operators (x1 / x10)

def op_domain_stats_exact(spark, d):
    from datasketches_spark_spark.operators import domain_stats
    stats = domain_stats(_docs(spark, d), "source", "doc_id", "text")
    return consume(stats, "n_docs", "n_unique", "n_tokens", "pass_frac")


def op_domain_stats_theta(spark, d):
    # ndv_k=256 so the per-domain states SATURATE at fixture scale:
    # theta states grow with NDV only until k (the sub-k exact regime —
    # at default k=4096 the x1/x10 fixtures sit entirely below it and
    # the measurement would show the ramp, not the plateau). The scale
    # claim is O(domains x min(NDV, k)) per partition; production keys
    # saturate k, so the plateau is the honest 100 TB shape.
    from datasketches_spark_spark.operators import domain_stats
    stats = domain_stats(_docs(spark, d), "source", "doc_id", "text",
                         ndv="theta", ndv_k=256)
    return consume(stats, "n_docs", "n_unique", "n_tokens", "pass_frac")


def op_domain_curation(spark, d):
    # the drop list includes a dup_frac rule so the NDV genuinely feeds
    # the pipeline, and the capped output is consumed (id + order key)
    from pyspark.sql import functions as F
    from datasketches_spark_spark.operators import (
        cap_per_domain, domain_drop_list, domain_stats, filter_by_domain)
    docs = _docs(spark, d)
    stats = domain_stats(docs, "source", "doc_id", "text", ndv="theta",
                         ndv_k=256)  # saturate at fixture scale (see above)
    drops = domain_drop_list(stats, blocklist=("src2",),
                             min_pass_frac=0.05, max_dup_frac=0.98)
    kept = filter_by_domain(docs, "source", drops)
    capped = cap_per_domain(kept, "source", 100,
                            [F.col("n_chars").desc(), "doc_id"])
    return consume(capped, "doc_id", "n_chars")


def op_cap_skew(spark, d):
    # one mega-domain holds ~50% of docs; the partial WindowGroupLimit
    # below the exchange must bound the shuffle by O(cap x partitions)
    # regardless of the skew
    from pyspark.sql import functions as F
    from datasketches_spark_spark.operators import cap_per_domain
    skewed = _docs(spark, d).withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, F.lit("megahost"))
                   .otherwise(F.col("source")))
    capped = cap_per_domain(skewed, "source", 100,
                            [F.col("n_chars").desc(), "doc_id"])
    return consume(capped, "doc_id", "source", "n_chars")


def op_pack(spark, d):
    from datasketches_spark_spark.functions.text import token_count
    from datasketches_spark_spark.operators import pack_sequences
    sized = _docs(spark, d).select(
        "doc_id", token_count("text").alias("n_tokens"))
    out = pack_sequences(sized, 2048)
    return consume(out, "seq_id", "piece_start", "piece_end", "seq_offset")


def op_aodwire(spark, d):
    import datasketches_spark_spark as dss
    dss.install(spark)
    _docs(spark, d).selectExpr("lang", "source", "length(text) AS n_chars") \
        .createOrReplaceTempView("documents")
    out = dss.sql(spark, """
        WITH s AS (
          SELECT lang, approx_tuple_accumulate_wire(source,
                   CAST(n_chars AS DOUBLE)) AS st
          FROM documents GROUP BY lang
        )
        SELECT lang, approx_tuple_estimate(st) AS e FROM s""")
    return consume(out, "e")


def op_sessions(spark, d):
    from pyspark.sql import functions as F
    from datasketches_spark_spark.streaming import session_summaries
    ev = _docs(spark, d).select(
        F.col("lang").alias("k"), F.col("doc_id").alias("u"),
        F.col("doc_id").cast("double").alias("v"),
        F.timestamp_millis(
            (F.col("doc_id") % 99991) * 40_000
            + (F.col("doc_id") % 37) * 60_000).alias("ts"))
    out = session_summaries(ev, ["k"], ("u", "v"), "ts", "30 minutes",
                            family="tuple")
    return consume(out, *[c for c in out.columns if c != "k"])


def op_bigram_lm(spark, d):
    from datasketches_spark_spark.operators import (
        perplexity_score, train_bigram_lm)
    docs = _docs(spark, d)
    uni, bi = train_bigram_lm(docs, "text")
    out = perplexity_score(docs, "doc_id", "text", uni, bi)
    return consume(out, "avg_nll", "ppl", "n_oov_terms")


def op_trigram(spark, d):
    from datasketches_spark_spark.operators import (
        perplexity_score_trigram, train_trigram_lm)
    docs = _docs(spark, d)
    uni, bi, tri = train_trigram_lm(docs, "text")
    out = perplexity_score_trigram(docs, "doc_id", "text", uni, bi, tri)
    return consume(out, "avg_nll", "ppl")


def op_nb_classifier(spark, d):
    from pyspark.sql import functions as F
    from datasketches_spark_spark.operators import (
        score_token_classifier, train_token_classifier)
    docs = _docs(spark, d)
    wts, model = train_token_classifier(docs, "text",
                                        F.col("lang") == "en")
    out = score_token_classifier(docs, "doc_id", "text", wts, model)
    return consume(out, "score_micro", "pred")


def op_dsir(spark, d):
    from pyspark.sql import functions as F
    from datasketches_spark_spark.operators import dsir_weights
    out = dsir_weights(_docs(spark, d), "doc_id", "text",
                       F.col("lang") == "en", buckets=256)
    return consume(out, "log_w", "score", "n_pos")


def op_bpe(spark, d):
    from datasketches_spark_spark.operators import bpe_encode, train_bpe
    docs = _docs(spark, d)
    merges = train_bpe(docs, "text", num_merges=50)
    out = bpe_encode(docs, "doc_id", "text", merges)
    return consume(out, "n_tokens", "tokens")


def op_bloomwire_agg(spark, d):
    from datasketches_spark_spark.operators import sketch_accumulate
    out = sketch_accumulate(_docs(spark, d), ["lang"], "doc_id",
                            family="bloomwire", expected_items=100_000,
                            fpp=0.01, item_type="long")
    return consume(out, "state")


# ------------------------------------------- crawl chain (WARC fixtures)

def _chunked(b: bytes, size: int = 61) -> bytes:
    out = [b"%x\r\n%s\r\n" % (len(b[i:i + size]), b[i:i + size])
           for i in range(0, len(b), size)]
    return b"".join(out) + b"0\r\n\r\n"


def _gzip_body(did: int) -> tuple[bytes, bytes]:
    """A chunked, gzip-coded HTML body: the Common Crawl worst case."""
    html = (f"<html><head><title>T{did}</title></head><body>"
            f"<p>document {did} body text &#8217; with entities "
            f"&#x2018;</p><p>tail {did % 97}</p></body></html>")
    return (b"Content-Type: text/html; charset=utf-8\r\n"
            b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip",
            _chunked(gzip.compress(html.encode("utf-8"))))


def _codec_body(did: int) -> tuple[bytes, bytes]:
    """An HTML body in one of four production codings, by ``did % 4``:
    chunked gzip, brotli, brotli over UTF-16 with a BOM, zstd."""
    from datasketches_spark_spark.operators.brotlinative import \
        brotli_encode
    from datasketches_spark_spark.operators.zstdnative import zstd_encode
    html = (f"<html><head><title>T{did}</title></head><body>"
            f"<p>document {did} body &#8216;text&#8217; for the "
            f"decode chain</p><p>tail {did % 97}</p></body></html>")
    leg = did % 4
    if leg == 0:
        return (b"Content-Type: text/html; charset=utf-8\r\n"
                b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip",
                _chunked(gzip.compress(html.encode("utf-8"))))
    if leg == 1:
        return (b"Content-Type: text/html; charset=utf-8\r\n"
                b"Content-Encoding: br", brotli_encode(html.encode("utf-8")))
    if leg == 2:
        return (b"Content-Type: text/html; charset=iso-8859-1\r\n"
                b"Content-Encoding: br",
                brotli_encode(b"\xff\xfe" + html.encode("utf-16-le")))
    return (b"Content-Type: text/html; charset=utf-8\r\n"
            b"Content-Encoding: zstd", zstd_encode(html.encode("utf-8")))


def _warc_record(did: int, body) -> bytes:
    hdr, payload = body(did)
    msg = b"HTTP/1.1 200 OK\r\n" + hdr + b"\r\n\r\n" + payload
    head = ("WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: <https://h{did % 13}.example.com/p/"
            f"{did}>\r\n"
            "WARC-Date: 2026-08-15T00:00:00Z\r\n"
            f"WARC-Record-ID: <urn:uuid:{did}>\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(msg)}\r\n\r\n").encode()
    return gzip.compress(head + msg + b"\r\n\r\n")


_WARC_BODIES = {"warc": _gzip_body, "codec": _codec_body}


def ensure_warc_fixtures(kind: str) -> None:
    """Write ``<kind>_x1`` (4 files) and ``<kind>_x10`` (40 files) of 300
    response records each, unless they are there already."""
    for scale, nfiles in (("x1", 4), ("x10", 40)):
        d = os.path.join(FIXTURES, f"{kind}_{scale}")
        if os.path.isdir(d) and len(os.listdir(d)) == nfiles:
            continue
        os.makedirs(d, exist_ok=True)
        did = 0
        for f in range(nfiles):
            with open(os.path.join(d, f"part{f:04d}.warc.gz"), "wb") as fh:
                for _ in range(300):
                    fh.write(_warc_record(did, _WARC_BODIES[kind]))
                    did += 1


def op_decode_chain(spark, d):
    # read_warc -> http_decode_body -> html_to_text: ZERO exchanges in the
    # operator plan, so shuffle bytes stay FLAT while input grows 10x
    from pyspark.sql import functions as F
    from datasketches_spark_spark.functions import (html_to_text,
                                                    http_decode_body)
    from datasketches_spark_spark.operators import read_warc
    out = (read_warc(spark, d, types=("response",))
           .select(
               F.col("record_id"),
               html_to_text(http_decode_body("payload")).alias("text")))
    _assert_no_exchange(out, "decode_chain")
    return consume(out, "record_id", "text")


def op_offsets_slices(spark, d):
    # the CDX index pass adds no exchange; the record-level re-read is
    # itself scan-stage
    from datasketches_spark_spark.operators import (read_warc,
                                                    read_warc_slices)
    idx = read_warc(spark, d, with_offsets=True)
    _assert_no_exchange(idx, "warc_offsets_index")
    again = read_warc_slices(
        spark, idx.select("path", "offset", "length", "record_index"))
    return consume(again, "record_id", "content_length")


def op_robots(spark, d):
    # rules = a fixed 13-host dimension; the only hash exchange is the
    # rules-side per-host array aggregation, so shuffle bytes stay FLAT
    # while the corpus grows 10x
    from pyspark.sql import functions as F
    from datasketches_spark_spark.functions import (parse_robots,
                                                    robots_allowed)
    from datasketches_spark_spark.operators import read_warc
    hosts = spark.range(13).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.com"))
        .alias("host"),
        F.when(F.col("id") % 2 == 0,
               F.lit("User-agent: *\nAllow: /p\nDisallow: /\n"))
        .otherwise(F.lit("User-agent: *\nDisallow: /p/1*\n"))
        .alias("text"))
    rules = parse_robots(hosts, "host", "text")
    urls = read_warc(spark, d, types=("response",)) \
        .select(F.col("target_uri").alias("url"))
    out = robots_allowed(urls, rules)
    return consume(out, "url", "allowed")


def op_cc_index_slices(spark, d):
    # engine-written offsets lifted to a cc-index-shaped parquet table ->
    # read_cc_index -> read_warc_slices: no corpus shuffle
    from pyspark.sql import functions as F
    from datasketches_spark_spark.functions import url_surt_key
    from datasketches_spark_spark.operators import (read_cc_index,
                                                    read_warc,
                                                    read_warc_slices)
    ccdir = tempfile.mkdtemp(prefix="dss_ccidx_sp_")
    (read_warc(spark, d, with_offsets=True)
     .where(F.col("offset").isNotNull())
     .select(
         url_surt_key("target_uri", tracking_re=None)
         .alias("url_surtkey"),
         F.col("target_uri").alias("url"),
         F.col("path").alias("warc_filename"),
         F.col("offset").alias("warc_record_offset"),
         F.col("length").alias("warc_record_length"))
     ).write.mode("overwrite").parquet(ccdir)
    # warc_filename carries the absolute file: URI here, so no
    # warc_root prefix — alias it straight onto the slices contract
    idx = read_cc_index(spark, ccdir)
    again = read_warc_slices(
        spark, idx.select(F.col("filename").alias("path"),
                          "offset", "length"))
    _assert_no_exchange(again, "cc_index_slices")
    return consume(again, "record_id", "content_length")


def op_main_content_route(spark, d):
    # WARC -> http_decode_body -> html_main_text (block features as
    # Column HOFs) alongside detect_mime over the decoded BYTES — still
    # one scan stage, zero exchanges
    from pyspark.sql import functions as F
    from datasketches_spark_spark.functions import (
        detect_mime, html_main_text, http_decode_body,
        http_decode_body_bytes)
    from datasketches_spark_spark.operators import read_warc
    out = (read_warc(spark, d, types=("response",))
           .select(
               F.col("record_id"),
               html_main_text(http_decode_body("payload"),
                              min_chars=20).alias("main"),
               detect_mime(http_decode_body_bytes("payload"))
               .alias("mime")))
    _assert_no_exchange(out, "main_content_route")
    # 'main' MUST be in the consume column set: the aggregate is what
    # stops Catalyst pruning the block-feature HOFs this op measures
    return consume(out, "record_id", "main", "mime")


# ------------------------------------------------- range inputs (no files)

def op_sitemap_entries(spark, d):
    # per-row sitemap XML documents (12 <url> entries each) ->
    # sitemap_text -> sitemap_entries -> explode: scan-stage
    from pyspark.sql import functions as F
    from datasketches_spark_spark.functions import (sitemap_entries,
                                                    sitemap_text)
    docs = spark.range(_n(d)).select(
        F.encode(F.concat(
            F.lit("<urlset>"),
            F.concat_ws("", F.transform(
                F.sequence(F.lit(0), F.lit(11)),
                lambda i: F.concat(
                    F.lit("<url><loc>https://s.com/d/"),
                    F.col("id") * 12 + i,
                    F.lit("?a=1&amp;b=2</loc><lastmod>2025-01-0"),
                    i % 9 + 1,
                    F.lit("</lastmod></url>")))),
            F.lit("</urlset>")), "utf-8").alias("payload"))
    txt = docs.select(sitemap_text("payload").alias("t"))
    out = txt.select(F.explode(sitemap_entries("t")).alias("e")) \
        .select("e.loc", "e.lastmod")
    _assert_no_exchange(out, "sitemap_entries")
    return consume(out, "loc", "lastmod")


def op_doc_extract_route(spark, d):
    # generated PDF (classic / Type0+CMap / ObjStm), DOCX, XLSX, PPTX and
    # ODT payloads -> the coalesce(detect_ooxml, detect_mime) router ->
    # per-format extraction: one Arrow pass per branch, zero exchanges
    import pandas as pd
    from pyspark.sql import functions as F
    from datasketches_spark_spark.functions import (detect_mime,
                                                    detect_ooxml)
    from datasketches_spark_spark.operators import (
        extract_docx_text, extract_odt_text, extract_pdf_text,
        extract_pptx_text, extract_xlsx_text)
    from datasketches_spark_spark.operators.docxcodec import \
        encode_docx_text
    from datasketches_spark_spark.operators.odfcodec import \
        encode_odt_text
    from datasketches_spark_spark.operators.ooxmlcodec import (
        encode_pptx_text, encode_xlsx_cells)
    from datasketches_spark_spark.operators.pdfcodec import (
        encode_pdf_text, encode_pdf_text_objstm, encode_pdf_text_type0)

    def _mk(pdfs):
        encs = [lambda i: encode_pdf_text([f"doc {i} classic body"]),
                lambda i: encode_pdf_text_type0([f"doc {i} ünïcode"]),
                lambda i: encode_pdf_text_objstm([f"doc {i} packed"]),
                lambda i: encode_docx_text([f"doc {i}", "p2 < & >"]),
                lambda i: encode_xlsx_cells([[f"d{i}", i]]),
                lambda i: encode_pptx_text([f"slide {i}"]),
                lambda i: encode_odt_text([f"doc {i}", "odt p2"])]
        for pdf in pdfs:
            ids = pdf["id"].tolist()
            yield pd.DataFrame({
                "doc_id": ids,
                "payload": [encs[i % 7](i) for i in ids]})

    docs = (spark.range(0, _n(d), 1, 32)
            .mapInPandas(_mk, "doc_id long, payload binary")
            .withColumn("mime", F.coalesce(detect_ooxml("payload"),
                                           detect_mime("payload"))))
    dispatch = [
        ("application/pdf", extract_pdf_text),
        ("application/vnd.openxmlformats-officedocument."
         "wordprocessingml.document", extract_docx_text),
        ("application/vnd.openxmlformats-officedocument."
         "spreadsheetml.sheet", extract_xlsx_text),
        ("application/vnd.openxmlformats-officedocument."
         "presentationml.presentation", extract_pptx_text),
        ("application/vnd.oasis.opendocument.text", extract_odt_text),
    ]
    out = None
    for essence, fn in dispatch:
        part = fn(docs.where(F.col("mime") == essence), "doc_id") \
            .select("doc_id", "text")
        out = part if out is None else out.unionByName(part)
    _assert_no_exchange(out, "doc_extract_route")
    return consume(out.select("doc_id", F.length("text").alias("tlen")),
                   "doc_id", "tlen")


def op_quantile_bucket_agg(spark, d):
    # equi-depth bucket ids over LITERAL boundaries (decoded once from a
    # persisted state) are scan-stage Column arithmetic; the only
    # exchange carries the 16-row partial aggregate, so shuffle bytes are
    # FLAT while input rows grow 10x
    import numpy as np
    from pyspark.sql import functions as F
    from datasketches_spark_spark.operators import (quantile_boundaries,
                                                    quantile_bucket)
    from datasketches_spark_spark.sketches import KllSketch

    sk = KllSketch(k=65536, dtype=np.float64)
    sk.update_batch(np.random.default_rng(5).exponential(100.0, 50_000))
    bounds = quantile_boundaries(sk.serialize(), 16)
    rows = spark.range(_n(d) * 50).select(      # row-heavy: 100k / 1M
        (F.pow(F.col("id") % 1000 + 1, 1.7) / 10.0).alias("v"))
    out = (rows.groupBy(quantile_bucket("v", bounds).alias("bk"))
           .agg(F.count("*").alias("n"), F.sum("v").alias("s")))
    _assert_no_exchange(
        rows.select(quantile_bucket("v", bounds).alias("bk")),
        "quantile_bucket projection")
    return consume(out, "bk", "n")


def op_skew_salt_agg(spark, d):
    # 50% of all rows on one hot key; the partial stage's exchange
    # carries (key, salt) combined rows — O(partitions x keys), FLAT
    from pyspark.sql import functions as F
    from datasketches_spark_spark.operators import skew_salt

    rows = spark.range(_n(d) * 50).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id") % 997))
        .alias("k"),
        F.col("id"),
        (F.col("id") % 13).cast("double").alias("v"))
    salt = skew_salt("k", ["hot"], 32, F.col("id"))
    partial = (rows.groupBy("k", salt.alias("s"))
               .agg(F.sum("v").alias("ps"), F.count("*").alias("pc")))
    final = (partial.groupBy("k")
             .agg(F.sum("ps").alias("sv"), F.sum("pc").alias("cnt")))
    return consume(final, "k", "cnt")


# op name -> (op, fixture set: "corpus", "warc", "codec" or "range")
OPS = {
    "q15_dedup_minhash": (_board("q15_dedup_minhash"), "corpus"),
    "q42_ngram_jaccard_dedup": (_board("q42_ngram_jaccard_dedup"),
                                "corpus"),
    "q43_dedup_graph": (_board("q43_dedup_graph"), "corpus"),
    "q18_embedding_neardup": (_board("q18_embedding_neardup"), "corpus"),
    "q54_ivf_index_query": (_board("q54_ivf_index_query"), "corpus"),
    "domain_stats_exact": (op_domain_stats_exact, "corpus"),
    "domain_stats_theta": (op_domain_stats_theta, "corpus"),
    "domain_curation": (op_domain_curation, "corpus"),
    "cap_per_domain_skew": (op_cap_skew, "corpus"),
    "pack_sequences": (op_pack, "corpus"),
    "aodwire_agg": (op_aodwire, "corpus"),
    "session_summaries": (op_sessions, "corpus"),
    "bigram_lm_score": (op_bigram_lm, "corpus"),
    "trigram_lm_score": (op_trigram, "corpus"),
    "nb_classifier": (op_nb_classifier, "corpus"),
    "dsir_weights": (op_dsir, "corpus"),
    "bpe_encode": (op_bpe, "corpus"),
    "bloomwire_grouped_agg": (op_bloomwire_agg, "corpus"),
    "warc_http_html_chain": (op_decode_chain, "warc"),
    "warc_offsets_slices": (op_offsets_slices, "warc"),
    "robots_allowed": (op_robots, "warc"),
    "br_zstd_chain": (op_decode_chain, "codec"),
    "cc_index_slices": (op_cc_index_slices, "codec"),
    "main_content_route": (op_main_content_route, "codec"),
    "sitemap_entries": (op_sitemap_entries, "range"),
    "doc_extract_route": (op_doc_extract_route, "range"),
    "quantile_bucket_agg": (op_quantile_bucket_agg, "range"),
    "skew_salt_agg": (op_skew_salt_agg, "range"),
}


def main():
    only = sys.argv[1:]
    unknown = sorted(set(only) - set(OPS))
    if unknown:
        sys.exit(f"unknown op(s) {unknown}; known: {sorted(OPS)}")
    for name, (fn, fixture) in OPS.items():
        if only and name not in only:
            continue
        if fixture in _WARC_BODIES:
            ensure_warc_fixtures(fixture)
        prefix = "" if fixture == "corpus" else f"{fixture}_"
        a, b = (run_op(name, fn, os.path.join(FIXTURES, prefix + scale))
                for scale in ("x1", "x10"))
        print(json.dumps({
            "op": name,
            "wall_ratio": round(b["wall_s"] / max(a["wall_s"], 1e-9), 2),
            "rows_ratio": round(b["rows"] / max(a["rows"], 1), 2),
            "shuffle_ratio": round(
                b["shuffle_mb"] / max(a["shuffle_mb"], 1e-9), 2),
        }), flush=True)


if __name__ == "__main__":
    main()
