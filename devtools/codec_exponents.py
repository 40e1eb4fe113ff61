#!/usr/bin/env python
"""Codec scale proof: every container/codec decode path must be
O(bytes) with sane constants. Each path is timed (best of 3) at 1x and
8x input, and the growth exponent is reported (wall ~ bytes^e; e ~ 1.0
is linear). Exits 1 if any exponent is above 1.25.

Run: ``python devtools/codec_exponents.py``. Pure Python, no Spark.
"""

import math
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import numpy as np  # noqa: E402

LIMIT = 1.25


def best_of(fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def report(name, t1, t8, b1, b8):
    e = math.log(t8 / t1) / math.log(b8 / b1)
    print(f"{name:30s} 1x {t1*1e3:8.1f} ms   8x {t8*1e3:8.1f} ms   "
          f"bytes x{b8/b1:.1f}   exponent {e:.2f}")
    return e


def cases():
    """(name, fn, 1x input, 8x input) for every measured path."""
    from datasketches_spark_spark.operators.aaccodec import (
        aac_audio_hash, aac_frame_payloads, build_adts_stream)
    from datasketches_spark_spark.operators.flaccodec import encode_flac
    from datasketches_spark_spark.operators.h264codec import (
        decode_h264_ipcm, encode_h264_ipcm)
    from datasketches_spark_spark.operators.mediameta import (
        build_id3v2, id3_info, mkv_tags_info, mp4_tags_info,
        pdf_meta_info, pdf_with_info, vorbis_comment_info)
    from datasketches_spark_spark.operators.mkvcodec import (
        annexb_to_mkv_track, build_mkv, mkv_audio_hash, mkv_extract_video,
        mkv_video_hash)
    from datasketches_spark_spark.operators.mp3codec import (
        build_frame_stream, mp3_audio_hash)
    from datasketches_spark_spark.operators.mp4codec import (
        build_mp4, mp4_audio_hash, mp4_extract_video, mp4_video_hash)
    from datasketches_spark_spark.operators.oggcodec import (
        build_ogg_stream, ogg_audio_packets)
    from datasketches_spark_spark.operators.pdfcodec import (
        encode_pdf_text_encrypted, encode_pdf_text_type0, pdf_text)

    # encrypted PDF: decrypt + inflate + extract (RC4 is the pure-Python
    # cipher, the worst constant)
    page = "\n".join("line %d of the corpus document" % i
                     for i in range(40))
    for cipher in ("aes256", "rc4"):
        yield (f"pdf {cipher} extract", pdf_text,
               encode_pdf_text_encrypted([page], cipher),
               encode_pdf_text_encrypted([page] * 8, cipher))

    rng = np.random.default_rng(5)
    yield ("h264 I_PCM decode", decode_h264_ipcm,
           encode_h264_ipcm([rng.integers(0, 256, (64, 96), np.uint8)
                             for _ in range(4)]),
           encode_h264_ipcm([rng.integers(0, 256, (64, 96), np.uint8)
                             for _ in range(32)]))
    yield ("mp3_audio_hash walk", mp3_audio_hash,
           build_frame_stream(b"sp", 200), build_frame_stream(b"sp", 1600))

    a1, a8 = build_adts_stream(b"sp", 200), build_adts_stream(b"sp", 1600)
    yield "aac adts hash", aac_audio_hash, a1, a8
    pls1, pls8 = aac_frame_payloads(a1), aac_frame_payloads(a8)
    yield ("mp4 classic audio hash", mp4_audio_hash,
           build_mp4(audio_payloads=pls1, per_chunk=7),
           build_mp4(audio_payloads=pls8, per_chunk=7))
    yield ("mp4 fragmented audio hash", mp4_audio_hash,
           build_mp4(audio_payloads=pls1, fragmented=True, per_chunk=4),
           build_mp4(audio_payloads=pls8, fragmented=True, per_chunk=4))

    rng = np.random.default_rng(3)
    fr1 = [rng.integers(0, 256, (32, 48), np.uint8) for _ in range(4)]
    v1 = build_mp4(video_annexb=encode_h264_ipcm(fr1))
    v8 = build_mp4(video_annexb=encode_h264_ipcm(fr1 * 8))
    yield "mp4 video vcl hash", mp4_video_hash, v1, v8
    yield "mp4 -> annexb extract", mp4_extract_video, v1, v8

    page = "unicode 日本語 text line for the ucs2 cmap path %d"
    yield ("pdf ucs2 cmap extract", pdf_text,
           encode_pdf_text_type0([page % i for i in range(12)],
                                 mapping="ucs2"),
           encode_pdf_text_type0([page % i for i in range(96)],
                                 mapping="ucs2"))

    from datasketches_spark_spark.operators.hevcnative import (
        hevc_decode_frames, hevc_encode_keyframes, libde265_available)
    if libde265_available():
        rgb = [np.repeat(rng.integers(0, 256, (64, 96, 1), np.uint8),
                         3, axis=2) for _ in range(2)]
        yield ("hevc libde265 decode", hevc_decode_frames,
               hevc_encode_keyframes(rgb), hevc_encode_keyframes(rgb * 8))

    k1 = ogg_audio_packets(build_ogg_stream(b"sc", 120))
    k8 = ogg_audio_packets(build_ogg_stream(b"sc", 960))
    yield ("mkv laced audio hash", mkv_audio_hash,
           build_mkv(audio_payloads=k1, lacing="xiph", per_cluster=8),
           build_mkv(audio_payloads=k8, lacing="xiph", per_cluster=8))
    cid, priv, blocks1 = annexb_to_mkv_track(encode_h264_ipcm(fr1))
    _, _, blocks8 = annexb_to_mkv_track(encode_h264_ipcm(fr1 * 8))
    w1, w8 = (build_mkv(video_frames=b, video_codec=cid,
                        video_private=priv, video_dims=(48, 32))
              for b in (blocks1, blocks8))
    yield "mkv video vcl hash", mkv_video_hash, w1, w8
    yield "mkv -> annexb extract", mkv_extract_video, w1, w8

    # n_fields caps at the recognized set; raw walks still scale
    tail = b"\xff\xfb" + b"\x00" * 64
    yield ("id3 frame walk", id3_info,
           build_id3v2({"title": "t" * 40}) + tail,
           build_id3v2({"title": "t" * 40, "artist": "a" * 300,
                        "album": "b" * 300, "genre": "g" * 300,
                        "date": "2000", "software": "s" * 300,
                        "copyright": "c" * 300}) + tail)
    yield ("vorbis comment parse", vorbis_comment_info,
           encode_flac(np.zeros(64), 8000,
                       tags={f"k{i:03d}": "v" * 40 for i in range(8)}),
           encode_flac(np.zeros(64), 8000,
                       tags={f"k{i:03d}": "v" * 40 for i in range(64)}))
    flds = {"title": "t" * 30, "artist": "a" * 30}
    yield ("pdf /Info parse", pdf_meta_info,
           pdf_with_info(["line\n" * 40], flds),
           pdf_with_info(["line\n" * 40] * 8, flds))
    yield ("mkv Tags parse", mkv_tags_info,
           build_mkv(audio_payloads=k1, tag_fields=flds),
           build_mkv(audio_payloads=k8, tag_fields=flds))
    yield ("mp4 ilst parse", mp4_tags_info,
           build_mp4(audio_payloads=k1, tag_fields=flds),
           build_mp4(audio_payloads=k8, tag_fields=flds))


def main():
    results = {}
    for name, fn, x1, x8 in cases():
        results[name] = report(name, best_of(lambda: fn(x1)),
                               best_of(lambda: fn(x8)), len(x1), len(x8))
    bad = {k: round(e, 2) for k, e in results.items() if e > LIMIT}
    print(f"\nAll linear (exponent <= {LIMIT})" if not bad
          else f"\nSUPERLINEAR PATHS: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
