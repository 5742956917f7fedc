"""Property / tolerance tests for the rows-only tier-X operators
(the ones whose checks the oracle harness records as rows-only)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from flink_samples_spark.llmops.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from flink_samples_spark.llmops.multimodal import attach_binary_payload, decode_features
from flink_samples_spark.llmops.similarity import (
    brute_force_cosine_topk,
    ivf_cosine_topk,
    lsh_bucketed_topk,
)
from flink_samples_spark.llmops.text import language_id
from flink_samples_spark.sources.readers import load_table


def test_simhash_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    b = {r.doc_id: r.simhash for r in simhash_signatures(docs.repartition(7)).collect()}
    assert a == b  # partitioning-invariant signatures


def test_simhash_near_dup_close(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, base), (1, base.replace("today", "tonight")), (2, "completely different words here entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])


def test_lang_id_deterministic_and_covering(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = language_id(docs)
    assert out.count() == docs.count()
    preds = {r.lang_pred for r in out.select("lang_pred").distinct().collect()}
    assert preds <= {"en", "de", "es", "fr", "unk"}
    again = language_id(docs.repartition(5))
    assert out.subtract(again).count() == 0 and again.subtract(out).count() == 0


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_cosine_topk(queries, emb, k=3)
    # Random embeddings are LSH's worst case (neighbors barely beat the
    # noise floor); 16 tables × 6 planes gives ~0.7 recall here.
    approx = lsh_bucketed_topk(queries, emb, k=3, n_planes=6, n_tables=16)
    exact_pairs = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_cosine_topk(queries, emb, k=3)
    approx = ivf_cosine_topk(queries, emb, k=3, n_cells=8, n_probe=4)
    exact_pairs = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # probing half the cells: labels cluster the vectors, so IVF should
    # land most true neighbors
    assert recall >= 0.6, f"IVF recall {recall:.2f} too low"


def test_approx_count_distinct_tolerance(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n")).collect()
    }
    approx = {
        r.l_returnflag: r.approx_parts
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.05).alias("approx_parts"))
        .collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) / n <= 0.15


def test_decode_features_deterministic_and_stub_gated(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_binary_payload(docs)
    a = sorted(decode_features(media).collect())
    b = sorted(decode_features(media.repartition(3)).collect())
    assert a == b
    # only motion-compensated entropy-coded video remains gated
    # (jpeg/y4m went real in round 10; FLAC and inter-frame MS-RLE8
    # followed later the same round)
    with pytest.raises(NotImplementedError):
        decode_features(media, codec="h264")


def test_ppm_decode_known_image_and_corrupt_payloads(spark):
    """The REAL codec branch: a hand-written 2x2 P6 blob (comment
    line included) must decode to its exact channel means, and every
    corrupt-payload class must yield a valid=false row — never a
    dead task (one bad blob in a 100 TB corpus must not kill the
    decode pass)."""
    good = (
        b"P6\n# hand fixture\n2 2\n255\n"
        + bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    )
    corrupt = {
        2: b"P5\n2 2\n255\n" + bytes(12),        # wrong magic (P5 = grayscale)
        3: b"P6\n2 2\n255\n" + bytes(11),         # truncated pixel data
        4: b"P6\n2 2\n65535\n" + bytes(24),       # maxval > 255 (2-byte samples)
        5: b"P6\n# no newline ends this comment", # unterminated comment
        6: None,                                   # NULL payload
        7: b"P6\n2 2 255" + bytes(12),             # missing separator after maxval
        8: b"P61 1 255\n" + bytes(3),              # no whitespace after magic
    }
    rows = [(1, good)] + [(k, v) for k, v in corrupt.items()]
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="ppm").collect()}
    assert len(got) == 8
    g = got[1]
    assert (g.valid, g.width, g.height) == (True, 2, 2)
    # channels: r = mean(10,40,70,100), g = +10, b = +20
    assert (g.r_mean, g.g_mean, g.b_mean) == (55.0, 65.0, 75.0)
    for k in corrupt:
        assert got[k].valid is False, f"doc {k} should be rejected"
        assert got[k].width is None and got[k].r_mean is None


def test_invalid_payload_count_is_logged(spark, caplog):
    """A corrupt payload must not stay a silent valid=false row: the
    decode output observes the invalid count and, after the first
    action, logs one WARNING naming the codec and the count."""
    import logging
    import time

    good = b"P6\n2 1\n255\n" + bytes(range(6))
    rows = [(1, good), (2, b"P5\n2 1\n255\n" + bytes(6)), (3, b"P6\n2 1\n255\n")]
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    logger = "flink_samples_spark.llmops.multimodal"
    want = "decode_features codec=ppm: 2 invalid payloads"

    def logged() -> int:
        # earlier tests' waiters may still log their own counts here
        return sum(
            r.name == logger and r.getMessage() == want for r in caplog.records
        )

    with caplog.at_level(logging.WARNING, logger=logger):
        got = decode_features(media, codec="ppm").collect()
        assert sorted(r.valid for r in got) == [False, False, True]
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and not logged():
            time.sleep(0.1)  # the waiter logs from its own thread
    assert logged() == 1


def test_png_decode_known_image_and_corrupt_payloads(spark):
    """The compressed-codec branch: a hand-built 2x2 PNG (one filtered
    scanline per type exercised across docs elsewhere; here Up + Sub)
    must decode to its exact channel means, and every corrupt-payload
    class must yield a valid=false row — never a dead task."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
    # pixels row0 = (10,20,30),(40,50,60); row1 = (70,80,90),(100,110,120)
    # row0 filter 1 (Sub): 10,20,30, 40-10,50-20,60-30
    # row1 filter 2 (Up):  70-10,80-20,90-30, 100-40,110-50,120-60
    raw = bytes([1, 10, 20, 30, 30, 30, 30, 2, 60, 60, 60, 60, 60, 60])
    good = sig + ihdr + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    bad_crc = bytearray(good)
    bad_crc[len(sig) + 10] ^= 0xFF  # flip a byte inside IHDR data
    gray_ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
    bad_filter_raw = bytes([7]) + bytes(6) + bytes([0]) + bytes(6)
    corrupt = {
        2: b"JUNK" + good[4:],                      # bad signature
        3: bytes(bad_crc),                           # CRC mismatch
        4: good[:-30],                               # truncated chunk
        5: sig + gray_ihdr                           # unsupported color type
           + chunk(b"IDAT", zlib.compress(bytes(6)))
           + chunk(b"IEND", b""),
        6: None,                                     # NULL payload
        7: sig + ihdr + chunk(b"IDAT", b"notzlib")   # inflate failure
           + chunk(b"IEND", b""),
        8: sig + ihdr                                # bad filter byte
           + chunk(b"IDAT", zlib.compress(bad_filter_raw))
           + chunk(b"IEND", b""),
        9: sig + ihdr + chunk(b"IDAT", zlib.compress(raw)),  # missing IEND
        10: sig + ihdr                               # deflate bomb: valid
           + chunk(b"IDAT", zlib.compress(bytes(10_000_000)))  # CRC, inflates
           + chunk(b"IEND", b""),                    # far past the header's
                                                     # promised 14 bytes —
    # the bounded inflate must reject it without materializing 10 MB
        11: sig                                      # hostile header: huge
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(12)))
           + chunk(b"IEND", b""),                    # declared dims would
    }                                                # size the inflate bound
    # itself at ~10 GB — the pixel cap must reject before inflating
    rows = [(1, good)] + [(k, v) for k, v in corrupt.items()]
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="png").collect()}
    assert len(got) == 11
    g = got[1]
    assert (g.valid, g.width, g.height) == (True, 2, 2)
    assert (g.r_mean, g.g_mean, g.b_mean) == (55.0, 65.0, 75.0)
    for k in corrupt:
        assert got[k].valid is False, f"doc {k} should be rejected"
        assert got[k].width is None and got[k].r_mean is None


def test_wav_decode_known_audio_and_corrupt_payloads(spark):
    """The audio-codec branch: a hand-built stereo PCM WAV must decode
    to its exact channel means (mono → ch1_mean NULL), and every
    corrupt-payload class must yield a valid=false row."""
    import struct

    def wav(n_ch, rate, pcm, fmt_tag=1, bits=16, block_align=None,
            data_len=None, chunks_order="fd"):
        data = struct.pack(f"<{len(pcm)}h", *pcm)
        ba = block_align if block_align is not None else n_ch * 2
        fmt = struct.pack("<HHIIHH", fmt_tag, n_ch, rate, rate * ba, ba, bits)
        dl = data_len if data_len is not None else len(data)
        fc = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        dc = b"data" + struct.pack("<I", dl) + data
        body = b"WAVE" + (fc + dc if chunks_order == "fd" else dc + fc)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # stereo, 2 frames: ch0 = 100, 200; ch1 = -50, 150
    good = wav(2, 8000, [100, -50, 200, 150])
    mono = wav(1, 16000, [10, 20, 30])
    empty = wav(2, 8000, [])  # zero frames: VALID, means NULL not nan
    corrupt = {
        3: b"JUNK" + good[4:],                      # bad magic
        4: wav(2, 8000, [1, 2, 3, 4], fmt_tag=3),    # float PCM tag
        5: wav(2, 8000, [1, 2, 3, 4], bits=8),       # 8-bit depth
        6: wav(2, 8000, [1, 2, 3, 4], data_len=64),  # truncated data
        7: wav(2, 8000, [1, 2, 3, 4], block_align=3),  # incoherent fmt
        8: wav(2, 8000, [1, 2, 3, 4], chunks_order="df"),  # data before fmt
        9: wav(2, 8000, [1, 2, 3]),                  # partial frame
        10: None,                                    # NULL payload
        11: wav(2, 0, [1, 2, 3, 4]),                 # zero sample rate
    }
    rows = [(1, good), (2, mono), (12, empty)] + [
        (k, v) for k, v in corrupt.items()
    ]
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="wav").collect()}
    assert len(got) == 12
    g = got[1]
    assert (g.valid, g.n_channels, g.sample_rate, g.n_frames) == (True, 2, 8000, 2)
    assert (g.ch0_mean, g.ch1_mean) == (150.0, 50.0)
    m = got[2]
    assert (m.valid, m.n_channels, m.n_frames, m.ch0_mean) == (True, 1, 3, 20.0)
    assert m.ch1_mean is None
    e = got[12]
    assert (e.valid, e.n_frames) == (True, 0)
    assert e.ch0_mean is None and e.ch1_mean is None
    for k in corrupt:
        assert got[k].valid is False, f"doc {k} should be rejected"
        assert got[k].n_channels is None and got[k].ch0_mean is None


def test_flac_decode_known_audio_and_corrupt_payloads(spark):
    """The compressed-lossless-audio branch through the REAL Spark
    plan: a fixture FLAC must decode to the pinned channel means, and
    every coarse corrupt-payload class must yield a valid=false row —
    never a dead task. (Bit-level structural classes + exhaustive
    mutation/truncation fuzz are pinned decoder-side in
    tests/test_properties.py.)"""
    from flink_samples_spark.llmops.multimodal import _make_flac_fixture_encoder

    good = _make_flac_fixture_encoder()(7)
    md5_off = 4 + 4 + 18
    corrupt = {
        3: b"fLaX" + good[4:],                       # bad magic
        4: good[:20],                                # truncated metadata
        5: good[:md5_off] + bytes([good[md5_off] ^ 1]) + good[md5_off + 1 :],
        6: good[:-9],                                # cut into final frame
        7: None,                                     # NULL payload
    }
    rows = [(1, good)] + [(k, v) for k, v in corrupt.items()]
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="flac").collect()}
    assert len(got) == 6
    g = got[1]
    n = 96 + 7 % 29
    i = np.arange(n, dtype=np.int64)
    ch0 = (7 * 41 + 2 * i) * 157 % 65536 - 32768
    ch1 = (7 * 41 + 2 * i + 1) * 157 % 65536 - 32768
    assert (g.valid, g.n_channels, g.sample_rate, g.n_frames) == (True, 2, 48000, n)
    assert g.ch0_mean == round(float(ch0.mean()), 6)
    assert g.ch1_mean == round(float(ch1.mean()), 6)
    for k in corrupt:
        assert got[k].valid is False, f"doc {k} should be rejected"
        assert got[k].n_channels is None and got[k].ch0_mean is None


def test_mrle_decode_known_video_and_corrupt_payloads(spark):
    """The inter-frame-video branch through the REAL Spark plan: a
    fixture MS-RLE8 AVI must decode to the pinned canvas/palette
    stats (including the frame-weighted checksum that pins frame
    order and carry-forward), and every coarse corrupt-payload class
    must yield a valid=false row. (Opcode-level structural classes +
    exhaustive mutation/truncation fuzz are pinned decoder-side in
    tests/test_properties.py.)"""
    from flink_samples_spark.llmops.multimodal import _make_rle_avi_fixture_encoder

    d = 7
    good = _make_rle_avi_fixture_encoder()(d)
    corrupt = {
        3: b"JUNK" + good[4:],                # bad RIFF magic
        4: good.replace(b"MRLE", b"H264"),    # wrong handler fourcc
        5: good[:-6],                         # cut into the final frame
        6: None,                              # NULL payload
    }
    rows = [(1, good)] + [(k, v) for k, v in corrupt.items()]
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="mrle").collect()}
    assert len(got) == 5
    g = got[1]
    w, h, nf, nc = 4 + d % 5, 3 + d % 4, 2 + d % 3, 8 + d % 5
    p = np.arange(w * h, dtype=np.int64)
    vals = np.stack(
        [(d * 7 + 3 * p + 5 * f * (p % 3 == 0)) % nc for f in range(nf)]
    )
    pal_r = (d * 11 + 7 * vals) % 256
    assert (g.valid, g.width, g.height, g.n_frames) == (True, w, h, nf)
    assert (g.fps_num, g.fps_den) == (12 + d % 4, 1 + d % 2)
    assert g.r_mean == round(float(pal_r.mean()), 6)
    assert g.g_mean == round(float(((d * 13 + 5 * vals) % 256).mean()), 6)
    assert g.b_mean == round(float(((d * 17 + 3 * vals) % 256).mean()), 6)
    assert g.r_fwsum == int(
        sum((f + 1) * pal_r[f].sum() for f in range(nf))
    )
    for k in corrupt:
        assert got[k].valid is False, f"doc {k} should be rejected"
        assert got[k].width is None and got[k].r_fwsum is None


def test_jpeg_decode_known_images_and_corrupt_payloads(spark):
    """The lossy-codec branch through the REAL Spark plan: fixture
    JPEGs for one color doc, one grayscale doc (d%5==0), and one
    restart-marker doc (d%3==0) must decode to the pinned block
    arithmetic, and every corrupt-payload class must yield a
    valid=false row — never a dead task. (Bit-level structural
    corruption classes are pinned decoder-side in
    tests/test_properties.py; JPEG has no checksum, so entropy bit
    flips are out of contract.)"""
    import numpy as np

    from flink_samples_spark.llmops.multimodal import (
        _make_jpeg_fixture_encoder,
        decode_features,
    )

    enc = _make_jpeg_fixture_encoder()

    def expected(d):
        n_bx, n_by = 1 + d % 3, 1 + d % 2
        b = np.arange(n_bx * n_by)
        ys = (28 + (d * 31 + 5 * b) % 200).astype(np.float64)
        if d % 5 == 0:
            r = g = bl = ys
        else:
            cb = (113 + (d + 7 * b) % 30).astype(np.float64)
            cr = (114 + (d * 3 + 11 * b) % 28).astype(np.float64)
            r = np.floor(ys + 1.402 * (cr - 128) + 0.5)
            g = np.floor(ys - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
            bl = np.floor(ys + 1.772 * (cb - 128) + 0.5)
        return (8 * n_bx, 8 * n_by, round(float(r.mean()), 6),
                round(float(g.mean()), 6), round(float(bl.mean()), 6))

    # 1: color no-DRI; 3: color with restart markers; 5: grayscale
    rows = [(1, enc(1)), (3, enc(3)), (5, enc(5)),
            (100, b"JUNK" + enc(1)[4:]),    # bad SOI
            (101, enc(1)[:40]),             # truncated mid-header
            (102, None)]                    # NULL payload
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="jpeg").collect()}
    assert len(got) == 6
    for d in (1, 3, 5):
        ew, eh, er, eg, eb = expected(d)
        r = got[d]
        assert (r.valid, r.width, r.height) == (True, ew, eh), f"doc {d}"
        assert (r.r_mean, r.g_mean, r.b_mean) == (er, eg, eb), f"doc {d}"
    for d in (100, 101, 102):
        assert got[d].valid is False, f"doc {d} should be rejected"
        assert got[d].width is None and got[d].r_mean is None


def test_y4m_decode_known_streams_and_corrupt_payloads(spark):
    """The video-container branch through the REAL Spark plan: a
    hand-built 2-frame C444 stream and a mono stream must decode to
    exact per-channel means (mono → cb/cr NULL), a zero-frame stream
    is valid with NULL means, and every corrupt-payload class must
    yield a valid=false row — never a dead task."""
    from flink_samples_spark.llmops.multimodal import decode_features

    # 2x1 C444, 2 frames: Y = [10,20],[30,40]; Cb = [50,60],[70,80];
    # Cr = [90,100],[110,120] → means 25, 65, 105
    good = (b"YUV4MPEG2 W2 H1 F30:1 Ip A1:1 C444 Xfixture\n"
            + b"FRAME\n" + bytes([10, 20, 50, 60, 90, 100])
            + b"FRAME Xp\n" + bytes([30, 40, 70, 80, 110, 120]))
    mono = (b"YUV4MPEG2 W2 H2 F24:1 Cmono\n"
            + b"FRAME\n" + bytes([8, 16, 24, 32]))
    empty = b"YUV4MPEG2 W2 H1 F25:1 C444\n"
    corrupt = {
        10: b"JUNK" + good[4:],                       # bad magic
        11: good.replace(b"C444", b"C420"),            # subsampled
        19: good.replace(b"F30:1", b"F99999999999:1"),  # fps > int32:
        # must be a corrupt ROW, not a batch-killing Int32 cast error
        12: good.replace(b" C444", b""),               # implicit C420
        13: good.replace(b"W2", b"W0"),                # zero dim
        14: good[:-3],                                 # truncated frame
        15: good.replace(b"FRAME\n", b"BLOB!\n", 1),   # bad marker
        16: good.replace(b"F30:1", b"Ip"),             # missing F param
        17: None,                                      # NULL payload
        18: good.replace(b"W2", b"W9000000"),          # pixel cap
    }
    rows = [(1, good), (2, mono), (3, empty)] + list(corrupt.items())
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="y4m").collect()}
    assert len(got) == 13
    g = got[1]
    assert (g.valid, g.width, g.height, g.n_frames) == (True, 2, 1, 2)
    assert (g.fps_num, g.fps_den) == (30, 1)
    assert (g.y_mean, g.cb_mean, g.cr_mean) == (25.0, 65.0, 105.0)
    m = got[2]
    assert (m.valid, m.width, m.height, m.n_frames, m.y_mean) == (
        True, 2, 2, 1, 20.0,
    )
    assert m.cb_mean is None and m.cr_mean is None
    e = got[3]
    assert (e.valid, e.n_frames) == (True, 0)
    assert e.y_mean is None
    for k in corrupt:
        assert got[k].valid is False, f"doc {k} should be rejected"
        assert got[k].width is None and got[k].y_mean is None


def test_gif_decode_known_images_and_corrupt_payloads(spark):
    """The palette+LZW branch through the REAL Spark plan: fixture
    GIFs for a plain doc, an interlaced+GIF87a doc (d%15==0 hits
    both), and a GIF89a-with-extensions doc must decode to the pinned
    arithmetic including the order-sensitive checksum; corrupt
    payloads yield valid=false rows."""
    import numpy as np

    from flink_samples_spark.llmops.multimodal import (
        _make_gif_fixture_encoder,
        decode_features,
    )

    enc = _make_gif_fixture_encoder()

    def expected(d):
        w, h = 4 + d % 3, 3 + d % 2
        nf = 1 + d % 3
        nc = 1 << (2 + d % 2)
        i = np.arange(w * h)
        means = {}
        reds = None
        for k, (a, b) in (("r", (13, 7)), ("g", (17, 5)), ("b", (19, 3))):
            frames = [(d * a + b * ((d + 3 * f + i) % nc)) % 256
                      for f in range(nf)]
            means[k] = round(float(np.mean(frames)), 6)
            if k == "r":
                reds = np.concatenate(frames).astype(np.int64)
        wsum = int((reds * (np.arange(len(reds)) + 1)).sum())
        return (w, h, nf, means["r"], means["g"], means["b"], wsum)

    # zero-frame GIF (header + global table + trailer): VALID with
    # n_frames=0 and ALL stats NULL incl. the checksum (wav/y4m parity)
    empty = enc(1)[: enc(1).index(b"\x21")] + b"\x3b"
    rows = [(1, enc(1)), (15, enc(15)), (7, enc(7)), (50, empty),
            (100, b"JUNK00" + enc(1)[6:]),   # bad magic
            (101, enc(1)[:-4]),              # truncated
            (102, None)]                     # NULL payload
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="gif").collect()}
    assert len(got) == 7
    z = got[50]
    assert (z.valid, z.n_frames) == (True, 0)
    assert z.r_mean is None and z.r_wsum is None
    for d in (1, 15, 7):
        ew, eh, enf, er, eg, eb, ews = expected(d)
        r = got[d]
        assert (r.valid, r.width, r.height, r.n_frames) == (True, ew, eh, enf), d
        assert (r.r_mean, r.g_mean, r.b_mean, r.r_wsum) == (er, eg, eb, ews), d
    for d in (100, 101, 102):
        assert got[d].valid is False, f"doc {d} should be rejected"
        assert got[d].width is None and got[d].r_wsum is None


def test_mjpeg_decode_known_videos_and_corrupt_payloads(spark):
    """The compressed-video branch through the REAL Spark plan:
    fixture AVIs for a plain doc, a rec-grouped grayscale doc
    (d%30==0 hits LIST-rec + grayscale + restart markers + idx1), and
    an interlaced-feature-free color doc must decode to the pinned
    frame-shifted arithmetic including the frame-order checksum;
    corrupt payloads yield valid=false rows; a zero-frame AVI is
    VALID with NULL stats (wav/y4m/gif no-data parity)."""
    import struct

    import numpy as np

    from flink_samples_spark.llmops.multimodal import (
        _make_avi_fixture_encoder,
        decode_features,
    )

    enc = _make_avi_fixture_encoder()

    def expected(d):
        nb = (1 + d % 3) * (1 + d % 2)
        nf = 2 + d % 3
        b = np.arange(nb)
        rs, gs, bs, fw = [], [], [], 0
        for f in range(nf):
            ys = (28 + (d * 31 + 5 * b + 23 * f) % 200).astype(np.float64)
            if d % 5 == 0:
                r = g = bl = ys
            else:
                cb = (113 + (d + 7 * b + 13 * f) % 30).astype(np.float64)
                cr = (114 + (d * 3 + 11 * b + 17 * f) % 28).astype(np.float64)
                r = np.floor(ys + 1.402 * (cr - 128) + 0.5)
                g = np.floor(
                    ys - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
                )
                bl = np.floor(ys + 1.772 * (cb - 128) + 0.5)
            rs.append(r.mean())
            gs.append(g.mean())
            bs.append(bl.mean())
            fw += (f + 1) * 64 * int(r.sum())
        return (
            8 * (1 + d % 3), 8 * (1 + d % 2), nf, 12 + d % 4, 1 + d % 2,
            round(float(np.mean(rs)), 6), round(float(np.mean(gs)), 6),
            round(float(np.mean(bs)), 6), fw,
        )

    # zero-frame AVI: rebuild doc 1's container with an empty movi
    # list and zeroed frame counts — a VALID no-data video
    good = enc(1)
    movi_hdr = good.index(b"movi") - 8
    z = bytearray(good[:movi_hdr] + b"LIST" + struct.pack("<I", 4) + b"movi")
    struct.pack_into("<I", z, 4, len(z) - 8)            # RIFF size
    struct.pack_into("<I", z, z.index(b"avih") + 8 + 16, 0)  # dwTotalFrames
    struct.pack_into("<I", z, z.index(b"strh") + 8 + 32, 0)  # dwLength
    empty = bytes(z)

    rows = [(1, enc(1)), (30, enc(30)), (7, enc(7)), (50, empty),
            (100, b"JUNK" + enc(1)[4:]),    # bad magic
            (101, enc(1)[:-6]),             # truncated movi
            (102, None)]                    # NULL payload
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in decode_features(media, codec="mjpeg").collect()}
    assert len(got) == 7
    zr = got[50]
    assert (zr.valid, zr.n_frames, zr.fps_num, zr.fps_den) == (True, 0, 13, 2)
    assert zr.r_mean is None and zr.r_fwsum is None
    for d in (1, 30, 7):
        ew, eh, enf, efn, efd, er, eg, eb, ews = expected(d)
        r = got[d]
        assert (r.valid, r.width, r.height, r.n_frames) == (True, ew, eh, enf), d
        assert (r.fps_num, r.fps_den) == (efn, efd), d
        assert (r.r_mean, r.g_mean, r.b_mean, r.r_fwsum) == (er, eg, eb, ews), d
    for d in (100, 101, 102):
        assert got[d].valid is False, f"doc {d} should be rejected"
        assert got[d].width is None and got[d].r_fwsum is None


def test_mjpeg_frame0_agrees_with_jpeg_codec(spark, sf_dir):
    """Cross-codec differential: a 1-frame slice of the MJPEG stats
    cannot be compared directly (MJPEG fixtures hold >= 2 frames),
    but the container's frame 0 IS the JPEG fixture (f=0 reduction),
    so a doc set where both codecs run must agree on geometry — and
    the JPEG single-image means must equal the MJPEG frame-0 slice
    recomputed from the same arithmetic. The property suite pins the
    full reduction byte-for-byte; here we pin the two SPARK plans
    against each other on the shared columns."""
    from flink_samples_spark.llmops.multimodal import (
        synth_avi_payload,
        synth_jpeg_payload,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40)
    via_jpeg = {
        r.doc_id: r
        for r in decode_features(synth_jpeg_payload(docs), codec="jpeg").collect()
    }
    via_avi = {
        r.doc_id: r
        for r in decode_features(synth_avi_payload(docs), codec="mjpeg").collect()
    }
    assert set(via_jpeg) == set(via_avi)
    for d, j in via_jpeg.items():
        a = via_avi[d]
        assert (j.valid, a.valid) == (True, True)
        assert (j.width, j.height) == (a.width, a.height), d


def test_png_and_ppm_decode_agree(spark, sf_dir):
    """Both real codecs carry the SAME pinned pixel arithmetic, so
    their decoded stats must be row-for-row identical — a cheap
    differential check that catches either codec drifting."""
    from flink_samples_spark.llmops.multimodal import (
        synth_png_payload,
        synth_ppm_payload,
    )

    docs = load_table(spark, sf_dir, "documents").limit(60)
    via_ppm = sorted(
        map(tuple, decode_features(synth_ppm_payload(docs), codec="ppm").collect())
    )
    via_png = sorted(
        map(tuple, decode_features(synth_png_payload(docs), codec="png").collect())
    )
    assert via_ppm == via_png
    assert all(t[1] for t in via_png)  # every payload valid


def test_dedup_components_chain_and_determinism(spark):
    """Min-label CC must propagate across multi-hop chains (diameter >
    1), not just direct pairs; result is partition-invariant."""
    import random

    from flink_samples_spark.llmops.dedup import dedup_components

    # chain 10-11-...-19 (diameter 9, forces several iterations) +
    # star around 50 + singleton pair
    pairs = [(i, i + 1) for i in range(10, 19)]
    pairs += [(50, x) for x in (51, 52, 53)]
    pairs += [(70, 71)]
    random.Random(3).shuffle(pairs)
    pdf = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
    got = {
        (r.doc_id, r.group_id)
        for r in dedup_components(pdf.repartition(5)).collect()
    }
    want = {(i, 10) for i in range(10, 20)}
    want |= {(x, 50) for x in (50, 51, 52, 53)}
    want |= {(70, 70), (71, 70)}
    assert got == want


@pytest.mark.parametrize("signature", ["oph", "kperm"])
def test_minhash_signature_paths_match_exact_pairs(spark, sf_dir, signature):
    """Both signature kernels (one-permutation densified and classic
    128-permutation) must recover exactly the pairs the exact
    shingle-join operator finds: precision is guaranteed by the
    exact-Jaccard verification stage, so this pins RECALL — the only
    failure mode an LSH change can introduce."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, 3, 0.8).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, 3, 0.8, signature=signature).collect()
    }
    spark.catalog.clearCache()
    assert got == exact


def test_pack_sequences_budget_and_partition_invariance(spark, sf_dir):
    """Every pack fits the token budget (oversized single docs get a
    pack of their own), every doc is packed exactly once, and the
    assignment is a pure function of the data (partitioning-invariant)."""
    from flink_samples_spark.llmops.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    out = pack_sequences(docs, budget=512, n_shards=16).toPandas()
    assert len(out) == docs.count()
    g = out.groupby(["shard", "pack_id"])["n_tokens"].agg(["sum", "count"])
    assert ((g["sum"] <= 512) | (g["count"] == 1)).all()
    # greedy first-fit tightness: within a shard, consecutive packs
    # cannot be merged (pack i's total + pack i+1's first doc > budget)
    for shard, grp in out.sort_values(["shard", "pack_id", "doc_id"]).groupby("shard"):
        packs = list(grp.groupby("pack_id"))
        for (_a, a), (_b, b) in zip(packs, packs[1:]):
            assert a["n_tokens"].sum() + b["n_tokens"].iloc[0] > 512
    again = pack_sequences(docs.repartition(7), budget=512, n_shards=16).toPandas()
    key = ["doc_id", "shard", "pack_id", "n_tokens"]
    assert sorted(map(tuple, out[key].values.tolist())) == sorted(
        map(tuple, again[key].values.tolist())
    )


def test_corpus_mix_key_interleaves_by_weight(spark, sf_dir):
    """In the merged (mix_key-sorted) order, a weight-2 category
    appears ~2× as often as a weight-1 category in any prefix."""
    from flink_samples_spark.llmops.packing import corpus_mix_key

    docs = load_table(spark, sf_dir, "documents")
    out = (
        corpus_mix_key(docs, "lang", {"en": 2.0, "zh": 0.5})
        .orderBy("mix_key", "lang", "doc_id")
        .toPandas()
    )
    n = len(out)
    prefix = out.head(n // 2)
    en, fr = (prefix["lang"] == "en").sum(), (prefix["lang"] == "fr").sum()
    # en is weighted 2× fr; allow slack for exhaustion of small cats
    assert en > fr, (en, fr)
    # every category ordered by doc_id internally
    for _lang, grp in out.groupby("lang"):
        assert grp["doc_id"].is_monotonic_increasing or len(grp) <= 1 or (
            grp.sort_values("mix_key")["doc_id"].is_monotonic_increasing
        )


# ------------------------------------------------ corpus analysis ----
def test_kmeans_deterministic_and_cohesive(spark, sf_dir):
    """Iterative k-means: partitioning-invariant output, ≤k clusters,
    and Lloyd iterations improve mean cosine-to-centroid over the
    0-iteration (init-assignment) baseline."""
    from flink_samples_spark.llmops.clustering import kmeans_fit_assign

    emb = load_table(spark, sf_dir, "embeddings")
    a = {r.vec_id: (r.cluster_id, r.cos) for r in kmeans_fit_assign(emb, k=8, n_iter=3).collect()}
    b = {
        r.vec_id: (r.cluster_id, r.cos)
        for r in kmeans_fit_assign(emb.repartition(7), k=8, n_iter=3).collect()
    }
    assert a == b
    assert len({c for c, _ in a.values()}) <= 8
    init = kmeans_fit_assign(emb, k=8, n_iter=0)
    mean_init = init.agg(F.avg("cos")).first()[0]
    mean_fit = kmeans_fit_assign(emb, k=8, n_iter=3).agg(F.avg("cos")).first()[0]
    assert mean_fit >= mean_init - 1e-9


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """Fewer distinct points than k: surviving clusters still cover
    every vector and no crash on empty clusters."""
    from flink_samples_spark.llmops.clustering import kmeans_fit_assign

    rows = [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_fit_assign(emb, k=4, n_iter=2).collect()
    assert len(out) == 6
    assert all(r.cos > 0.99 for r in out)  # two perfect clusters exist


def test_contamination_bounds_and_self(spark, sf_dir):
    """Ratios live in [0,1]; a doc checked against an eval set
    containing itself is fully contaminated."""
    from flink_samples_spark.llmops.corpus import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("source").isin("src0", "src1"))
    train = docs.filter(~F.col("source").isin("src0", "src1"))
    out = contamination_check(train, eval_docs, k=3)
    bad = out.filter((F.col("overlap_ratio") < 0) | (F.col("overlap_ratio") > 1)).count()
    assert bad == 0
    self_out = contamination_check(eval_docs, eval_docs, k=3)
    assert self_out.filter(F.col("overlap_ratio") < 1.0).count() == 0


def test_pii_scan_discriminates(spark):
    from flink_samples_spark.llmops.corpus import pii_scan

    rows = [
        (0, "reach me at jane.doe+spam@corp.example.org thanks"),
        (1, "call +1 (555) 010-4242 after noon"),
        (2, "no contact information in this text at all"),
        (3, "just a year 2024 and a count 17"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert out[0].n_emails == 1 and out[0].has_pii
    assert out[1].n_phones == 1 and out[1].has_pii
    assert not out[2].has_pii and out[2].n_numbers == 0
    assert not out[3].has_pii and out[3].n_numbers == 2


def test_ngram_topk_counts(spark):
    from flink_samples_spark.llmops.corpus import ngram_topk

    rows = [(0, "a b c a b c"), (1, "a b c d")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.shingle: r.n_occ for r in ngram_topk(docs, k=3, top=10).collect()}
    # doc0 grams: "a b c","b c a","c a b","a b c"; doc1: "a b c","b c d"
    assert out["a b c"] == 3  # raw occurrences, not per-doc presence


def test_repetition_metrics_edges_and_known_values(spark):
    from flink_samples_spark.llmops.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "solo"),                      # 1 word: no bigrams
            (2, "a a a a"),                   # all dup; bigram "a a" x3
            (3, "x y x y z"),                 # "x y" twice of 4 bigrams
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert rows[1]["n_bigrams"] == 0 and rows[1]["top_bigram_frac"] == 0.0
    assert rows[1]["dup_word_frac"] == 0.0
    assert rows[2]["dup_word_frac"] == 0.75 and rows[2]["top_bigram_frac"] == 1.0
    assert rows[3]["n_bigrams"] == 4 and rows[3]["top_bigram_frac"] == 0.5


def test_domain_cap_and_temperature_weights(spark, sf_dir):
    from flink_samples_spark.llmops.corpus import domain_cap, temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    capped = domain_cap(docs, cap=5)
    per = {r["source"]: r["cnt"] for r in capped.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert per and all(c <= 5 for c in per.values())
    # deterministic across runs
    assert sorted(r["doc_id"] for r in capped.collect()) == sorted(
        r["doc_id"] for r in domain_cap(docs, cap=5).collect()
    )
    tw = temperature_weights(docs, alpha=0.7).collect()
    total = sum(r["mix_weight"] for r in tw)
    assert abs(total - 1.0) < 1e-4
    # alpha<1 compresses: max/min weight ratio < max/min count ratio
    cmax, cmin = max(r["n_docs"] for r in tw), min(r["n_docs"] for r in tw)
    wmax, wmin = max(r["mix_weight"] for r in tw), min(r["mix_weight"] for r in tw)
    assert wmax / wmin < cmax / cmin or cmax == cmin


def test_vocab_encode_big_vocab_broadcast_path(spark, sf_dir):
    """Above the threshold, vocab_encode must switch from the literal
    create_map projection to a BROADCAST join (no corpus shuffle, no
    plan-size blow-up) and produce IDENTICAL per-doc stats."""
    from flink_samples_spark.llmops.text import vocab_encode
    from flink_samples_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    size = 20_000  # a real-tokenizer-scale request (corpus may have fewer words)
    big = vocab_encode(docs, size=size)  # > default threshold → join path
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # the literal-map path would inline thousands of expressions; the
    # join path's plan stays small
    assert "keys: [" not in plan and len(plan) < 50_000

    small_path = vocab_encode(docs, size=size, broadcast_threshold=size)
    a = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["ids_checksum"])
         for r in big.collect()}
    b = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["ids_checksum"])
         for r in small_path.collect()}
    assert a == b


def test_read_prior_index_is_retry_and_restart_safe(spark, tmp_path):
    """Code-review r5: the streaming ingestion-dedup read side must
    (a) exclude the current batch's own signatures — a RETRIED batch
    has already written its batch=N partition, and joining it would
    fabricate self-pairs — and (b) detect prior batches from STORAGE,
    so a checkpoint RESTART (fresh driver memory) still joins them."""
    from flink_samples_spark.llmops.dedup import (
        build_dedup_index,
        dedup_against_index,
        read_prior_index,
    )

    idx = str(tmp_path / "idx")
    d0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id bigint, text string",
    )
    d1 = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta")],  # near-dup of doc 1
        "doc_id bigint, text string",
    )
    # batch 0 commits, then batch 1 writes its partition and RETRIES
    build_dedup_index(d0, k=3).write.mode("overwrite").parquet(f"{idx}/batch=0")
    build_dedup_index(d1, k=3).write.mode("overwrite").parquet(f"{idx}/batch=1")

    # no prior index before the first batch, ever
    assert read_prior_index(spark, idx, 0) is None
    assert read_prior_index(spark, str(tmp_path / "missing"), 5) is None

    # the retried batch 1 sees ONLY batch 0 (fresh driver state — the
    # restart scenario — is inherent: nothing in memory is consulted)
    prior = read_prior_index(spark, idx, 1)
    assert sorted(r.doc_id for r in prior.select("doc_id").collect()) == [1, 2]

    pairs = dedup_against_index(d1, prior, k=3, threshold=0.8)
    got = sorted((r.doc_a, r.doc_b) for r in pairs.collect())
    # doc 3 pairs with its batch-0 twin doc 1; never with itself
    assert got == [(1, 3)], got
    spark.catalog.clearCache()


def test_read_prior_index_ignores_crash_leftovers(spark, tmp_path):
    """Code-review r6: crash leftovers beside committed partitions —
    a 'batch=1.tmp' DIRECTORY (with data files) and a bare marker
    FILE — must neither crash the read (partition discovery over the
    whole dir would see the non-integer value) nor leak into the
    prior frame."""
    import os

    from flink_samples_spark.llmops.dedup import build_dedup_index, read_prior_index

    idx = str(tmp_path / "idx")
    d0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id bigint, text string"
    )
    d1 = spark.createDataFrame(
        [(9, "unrelated words that must never appear")], "doc_id bigint, text string"
    )
    build_dedup_index(d0, k=3).write.mode("overwrite").parquet(f"{idx}/batch=0")
    # crash leftovers: an uncommitted temp partition and a marker file
    build_dedup_index(d1, k=3).write.mode("overwrite").parquet(f"{idx}/batch=1.tmp")
    with open(os.path.join(idx, "batch=2.tmp"), "w") as f:
        f.write("not parquet")

    prior = read_prior_index(spark, idx, 3)
    assert sorted(r.doc_id for r in prior.select("doc_id").collect()) == [1]

    # leftovers alone (no committed prior batch) -> no prior index
    import shutil

    shutil.rmtree(f"{idx}/batch=0")
    assert read_prior_index(spark, idx, 3) is None


def _parquet_files(root):
    import glob
    import os

    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def _small_docs(spark, n, start=0, words=150):
    return spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 97} t{j}" for j in range(words)))
         for i in range(start, start + n)],
        "doc_id bigint, text string",
    )


def test_build_dedup_index_sizes_small_batch_to_one_partition(spark, tmp_path):
    """A micro-batch-sized input (100 docs in two small parquet files,
    far below minPartitionSize) signs in ONE partition and its index
    append writes ONE part file — not one Python task and one file per
    core, each task paying the Python worker's fixed cost."""
    from flink_samples_spark.llmops.dedup import build_dedup_index

    src = str(tmp_path / "src")
    _small_docs(spark, 100).repartition(2).write.parquet(src)
    assert len(_parquet_files(src)) == 2
    docs = spark.read.parquet(src)
    assert docs.rdd.getNumPartitions() == 2

    bidx = build_dedup_index(docs, k=3)
    assert bidx.rdd.getNumPartitions() == 1
    out = str(tmp_path / "idx" / "batch=0")
    bidx.write.parquet(out)
    assert len(_parquet_files(out)) == 1
    assert spark.read.parquet(out).count() == 100


def test_build_dedup_index_partitions_follow_bytes(spark, tmp_path):
    """Between 1 and the core count, the signature stage gets the same
    byte-sized count whatever the scan's layout: a one-file input is
    repartitioned up to it and a four-file input coalesced down to it."""
    import os

    from flink_samples_spark.llmops.dedup import build_dedup_index
    from flink_samples_spark.utils import MIN_PARTITION_SIZE_CONF

    cores = spark.sparkContext.defaultParallelism
    if cores < 4:
        pytest.skip("needs at least 4 cores to sit between 1 and the core count")
    docs = _small_docs(spark, 100)
    one, four = str(tmp_path / "one"), str(tmp_path / "four")
    docs.repartition(1).write.parquet(one)
    docs.repartition(4).write.parquet(four)
    n_bytes = sum(os.path.getsize(f) for f in _parquet_files(one))
    spark.conf.set(MIN_PARTITION_SIZE_CONF, f"{n_bytes // 3}b")
    try:
        got = [
            build_dedup_index(spark.read.parquet(d), k=3).rdd.getNumPartitions()
            for d in (one, four)
        ]
    finally:
        spark.conf.unset(MIN_PARTITION_SIZE_CONF)
    assert spark.read.parquet(one).rdd.getNumPartitions() == 1
    assert spark.read.parquet(four).rdd.getNumPartitions() == 4
    assert got[0] == got[1] and 1 < got[0] < cores, got


def test_partitions_for_size_without_estimate_is_core_count(spark):
    """A plan with no size estimate keeps the core count, and so does
    build_dedup_index over it. An RDD-backed frame (createDataFrame
    from rows or an RDD) is such a plan: Spark reports Long.MaxValue.
    A mapInPandas is NOT: Spark 4 carries its child's estimate
    through."""
    from flink_samples_spark.llmops.dedup import build_dedup_index
    from flink_samples_spark.utils import partitions_for_size

    cores = spark.sparkContext.defaultParallelism
    rows = _small_docs(spark, 20)
    no_stats = spark.createDataFrame(rows.rdd.coalesce(1), rows.schema)
    assert partitions_for_size(no_stats) == cores
    assert build_dedup_index(no_stats, k=3).rdd.getNumPartitions() == cores
    small = spark.range(20)
    assert partitions_for_size(small) == 1
    assert partitions_for_size(small.mapInPandas(lambda it: it, small.schema)) == 1


def test_parallelize_narrow_keeps_core_count(spark):
    """The byte-sized rule stays out of parallelize_narrow: its callers
    (the multimodal decoders) create their work from doc_id, so a tiny
    single-partition input still spreads over every core."""
    from flink_samples_spark.utils import parallelize_narrow

    cores = spark.sparkContext.defaultParallelism
    assert parallelize_narrow(spark.range(10)).rdd.getNumPartitions() == cores
    one = spark.range(0, 10, 1, 1)
    assert parallelize_narrow(one).rdd.getNumPartitions() == cores


def test_read_prior_index_coalesces_small_index(spark, tmp_path):
    """Several tiny committed batch=<n> partitions come back with the
    same rows in at most ceil(bytes / minPartitionSize) partitions; with
    the floor lowered to a few KB the same many-file index is not
    shrunk below the core count."""
    import math
    import os

    from flink_samples_spark.llmops.dedup import build_dedup_index, read_prior_index
    from flink_samples_spark.utils import MIN_PARTITION_SIZE_CONF

    idx = str(tmp_path / "idx")
    n_batches = 8
    for b in range(n_batches):
        build_dedup_index(_small_docs(spark, 5, start=5 * b, words=40), k=3).repartition(
            1
        ).write.parquet(f"{idx}/batch={b}")
    files = _parquet_files(idx)
    assert len(files) == n_batches
    n_bytes = sum(os.path.getsize(f) for f in files)

    def rows(df):
        return sorted(
            (r.doc_id, tuple(r.shingle_hashes), tuple(r.band_hashes)) for r in df.collect()
        )

    want = rows(spark.read.parquet(*(f"{idx}/batch={b}" for b in range(n_batches))))
    assert len(want) == 5 * n_batches

    prior = read_prior_index(spark, idx, n_batches)  # default floor: 1 MiB
    assert prior.rdd.getNumPartitions() <= math.ceil(n_bytes / (1 << 20))
    assert rows(prior) == want

    cores = spark.sparkContext.defaultParallelism
    few_kb = 2048
    assert n_bytes >= cores * few_kb  # the fixture is many floors wide
    spark.conf.set(MIN_PARTITION_SIZE_CONF, f"{few_kb}b")
    try:
        wide = read_prior_index(spark, idx, n_batches)
        assert wide.rdd.getNumPartitions() >= cores
        assert rows(wide) == want
    finally:
        spark.conf.unset(MIN_PARTITION_SIZE_CONF)


_BOILER = (
    "all rights reserved terms of service apply to this page "
    "contact the webmaster for further information about this site"
)


def _hot_fixture(spark):
    """A 12-doc batch of two boilerplate variants (each band bucket
    holds 6 or 12 batch docs, over max_bucket=4) and a 3-doc index of
    the same variants."""
    b = spark.createDataFrame(
        [(i, f"{_BOILER} variant {i % 2}") for i in range(12)],
        "doc_id long, text string",
    )
    ix = spark.createDataFrame(
        [(100 + i, f"{_BOILER} variant {i % 2}") for i in range(3)],
        "doc_id long, text string",
    )
    return b, ix


def _fused_pairs(spark, bidx, index, name="t_fpv", **kw):
    """fused_pairs_via_views over temp views of ``bidx`` and ``index``
    (None: no index view)."""
    from flink_samples_spark.llmops.dedup import fused_pairs_via_views

    bidx.createOrReplaceTempView(f"{name}_batch")
    if index is not None:
        index.createOrReplaceTempView(f"{name}_index")
    return fused_pairs_via_views(
        spark, f"{name}_batch", f"{name}_index" if index is not None else None,
        threshold=0.8, **kw,
    )


def _unordered(rows) -> set:
    """(low id, high id, jaccard): fused cross pairs come out as
    (index doc, batch doc), the batch operator's as doc_a < doc_b."""
    return {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.jaccard) for r in rows}


def _batch_reference(docs, batch_ids) -> set:
    """The q_dedup_near pairs (minhash_lsh_pairs) over index ∪ batch
    docs that have at least one end in the batch."""
    return _unordered(
        r for r in minhash_lsh_pairs(docs, k=3, threshold=0.8).collect()
        if r.doc_a in batch_ids or r.doc_b in batch_ids
    )


def test_fused_pairs_via_views_match_batch_pairs(spark, sf_dir):
    """The ingestion path (fused_pairs_via_views: within-batch pairs
    and batch×index pairs from one bucketing shuffle) must find
    exactly the batch operator's pairs that touch the batch — on the
    cold driver fixture split in halves, on HOT within-batch buckets
    (12 boilerplate docs past max_bucket=4: the salt CTE chain), and
    with no index view."""
    from flink_samples_spark.llmops.dedup import build_dedup_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    odd = docs.filter("doc_id % 2 = 1")
    odd_ids = {r.doc_id for r in odd.select("doc_id").collect()}
    idx = build_dedup_index(docs.filter("doc_id % 2 = 0"), k=3).cache()
    bidx = build_dedup_index(odd, k=3).cache()
    want = _batch_reference(docs, odd_ids)
    assert any(a in odd_ids and b in odd_ids for a, b, _ in want)
    assert any((a in odd_ids) != (b in odd_ids) for a, b, _ in want)
    assert _unordered(_fused_pairs(spark, bidx, idx).collect()) == want
    # no index view: the within-batch pairs alone
    got = [(r.doc_a, r.doc_b, r.jaccard) for r in _fused_pairs(spark, bidx, None).collect()]
    assert sorted(got) == sorted(_batch_reference(odd, odd_ids))
    spark.catalog.clearCache()

    b, ix = _hot_fixture(spark)
    bidx_hot = build_dedup_index(b, k=3).cache()
    idx_hot = build_dedup_index(ix, k=3).cache()
    got = _unordered(_fused_pairs(spark, bidx_hot, idx_hot, max_bucket=4).collect())
    assert got == _batch_reference(b.unionByName(ix), set(range(12)))
    # sanity: within (salted) AND cross pairs both present
    assert any(a < 100 and bb < 100 for a, bb, _ in got)
    assert any(bb >= 100 for a, bb, _ in got)
    spark.catalog.clearCache()


def test_fused_pairs_via_views_warns_and_releases_hot_buckets(spark, tmp_path, caplog):
    """Over-cap buckets on the SQL path are salted AND reported: after
    the result's first action the waiter logs the hot bucket/doc
    counts as a WARNING and unpersists the grouped table it owns, so
    a caller that never clears the cache leaks nothing."""
    import logging
    import time

    from flink_samples_spark.llmops.dedup import build_dedup_index

    b, ix = _hot_fixture(spark)
    bidx = build_dedup_index(b, k=3).cache()
    idx = build_dedup_index(ix, k=3).cache()
    logger = "flink_samples_spark.llmops.dedup"
    with caplog.at_level(logging.WARNING, logger=logger):
        out = _fused_pairs(spark, bidx, idx, name="t_fpv_hot", max_bucket=4)
        grouped = "t_fpv_hot_batch_grouped"
        assert spark.catalog.isCached(grouped)
        nb, nd = spark.sql(
            f"SELECT count(1), sum(nb) FROM {grouped} WHERE nb > 4"
        ).first()
        assert nb > 0
        want = (
            f"LSH hot buckets (> 4 docs): {nb} buckets / {nd} doc-rows — "
            "salted into sub-buckets (zero recall loss)"
        )

        def logged() -> int:
            # earlier tests' waiters may still log their own counts here
            return sum(r.name == logger and r.getMessage() == want for r in caplog.records)

        out.write.parquet(str(tmp_path / "pairs"))
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and (
            not logged() or spark.catalog.isCached(grouped)
        ):
            time.sleep(0.1)  # the waiter runs in its own thread
    assert logged() == 1
    assert not spark.catalog.isCached(grouped)
    spark.catalog.clearCache()


def test_read_prior_index_reads_mixed_layout_directory(spark, sf_dir, tmp_path):
    """'Sign once, reuse forever': an index directory holding a
    pre-r13 partition (bands array<struct<band,band_hash>>, in
    collect_list order) beside a packed one must return EVERY doc in
    the packed layout, and the ingestion path over it every pair."""
    from flink_samples_spark.llmops.dedup import build_dedup_index, read_prior_index

    idx = str(tmp_path / "idx")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    build_dedup_index(docs.filter("doc_id % 3 = 0"), k=3).select(
        "doc_id",
        "shingle_hashes",
        F.expr(
            "shuffle(transform(band_hashes, "
            "(h, i) -> named_struct('band', i, 'band_hash', h)))"
        ).alias("bands"),
    ).write.parquet(f"{idx}/batch=0")
    build_dedup_index(docs.filter("doc_id % 3 = 1"), k=3).write.parquet(f"{idx}/batch=1")

    prior = read_prior_index(spark, idx, 2)
    assert prior.columns == ["doc_id", "shingle_hashes", "band_hashes"]

    def by_doc(df):
        return {r.doc_id: (tuple(r.shingle_hashes), tuple(r.band_hashes)) for r in df.collect()}

    assert by_doc(prior) == by_doc(build_dedup_index(docs.filter("doc_id % 3 <> 2"), k=3))

    batch = docs.filter("doc_id % 3 = 2")
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    want = _batch_reference(docs, batch_ids)
    # reference pairs reach into both the legacy and the packed partition
    assert {min(a, b) % 3 for a, b, _ in want} >= {0, 1}
    bidx = build_dedup_index(batch, k=3).cache()
    assert _unordered(_fused_pairs(spark, bidx, prior).collect()) == want
    spark.catalog.clearCache()


def test_fused_pairs_disjointness_misuse_is_detectable(spark):
    """fused_pairs_via_views REQUIRES doc_id-disjoint sides (VERDICT
    r13 'what's wrong' #3): overlapping ids resolve both pair ends
    against a union sketch holding the id TWICE, silently duplicating
    verify matches. check_disjoint=True turns that silent wrongness
    into a loud error and lets disjoint sides through unchanged."""
    from flink_samples_spark.llmops.dedup import build_dedup_index

    txt = "shared doc text that is identical across the two sides entirely"
    b = spark.createDataFrame([(1, txt), (2, txt + " x")], "doc_id long, text string")
    ix = spark.createDataFrame([(1, txt)], "doc_id long, text string")  # id 1 reused!
    bidx = build_dedup_index(b, k=3).cache()
    idx = build_dedup_index(ix, k=3).cache()
    with pytest.raises(ValueError, match="doc_id-disjoint"):
        _fused_pairs(spark, bidx, idx, check_disjoint=True)
    # disjoint sides pass the guard unchanged
    ix2 = spark.createDataFrame([(10, txt)], "doc_id long, text string")
    idx2 = build_dedup_index(ix2, k=3).cache()
    out = _fused_pairs(spark, bidx, idx2, check_disjoint=True)
    got = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert (10, 1) in got  # the identical cross pair still comes through
    spark.catalog.clearCache()


def test_pack_sequences_budget_holds_across_arrow_batches(spark):
    """Code-review r5 (verified repro): one shard arrives as multiple
    ~10k-row Arrow batches; per-batch packing restarted pack_id
    mid-shard and tripled the token budget. With batches concatenated,
    every pack must respect the budget (oversized docs excepted)."""
    from flink_samples_spark.llmops.packing import pack_sequences

    docs = spark.range(25_000).selectExpr("id as doc_id", "'w' as text")
    out = pack_sequences(docs, budget=512, n_shards=1)
    per_pack = (
        out.groupBy("shard", "pack_id")
        .sum("n_tokens")
        .withColumnRenamed("sum(n_tokens)", "tot")
        .collect()
    )
    assert len(per_pack) > 20, len(per_pack)  # old bug: exactly 20 merged packs
    assert all(r.tot <= 512 for r in per_pack), max(r.tot for r in per_pack)


def test_pack_sequences_null_text_cannot_poison_a_shard(spark):
    """A NULL text made n_tokens NULL → NaN in the pandas stage, and
    NaN > budget is False, so every later doc in the shard landed in
    one unbounded pack. NULL-text rows are dropped (chunk_documents
    convention) and the budget must hold for the rest of the shard."""
    from flink_samples_spark.llmops.packing import pack_sequences

    docs = spark.range(2_000).selectExpr(
        "id as doc_id",
        "CASE WHEN id = 3 THEN NULL ELSE repeat('w ', 99) || 'w' END as text",
    )
    out = pack_sequences(docs, budget=512, n_shards=1)
    per_pack = (
        out.groupBy("shard", "pack_id")
        .agg({"n_tokens": "sum"})
        .withColumnRenamed("sum(n_tokens)", "tot")
        .collect()
    )
    assert out.filter("doc_id = 3").count() == 0
    assert out.count() == 1_999
    assert all(r.tot <= 512 for r in per_pack), max(r.tot for r in per_pack)


def test_corpus_mix_key_rejects_nonpositive_weights(spark):
    import pytest

    from flink_samples_spark.llmops.packing import corpus_mix_key

    docs = spark.createDataFrame([(1, "en")], "doc_id bigint, lang string")
    with pytest.raises(ValueError, match="must be > 0"):
        corpus_mix_key(docs, "lang", {"en": 0.0})
    with pytest.raises(ValueError, match="must be > 0"):
        corpus_mix_key(docs, "lang", {"en": 1.0}, default_weight=-1.0)


def test_ann_empty_and_malformed_inputs(spark):
    """Empty corpus → empty frame with the live path's schema (both
    ANN variants); an empty embedding row must not kill quantization."""
    from flink_samples_spark.llmops.similarity import (
        ivf_cosine_topk,
        lsh_bucketed_topk,
        quantize_int8,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id bigint, embedding array<float>")
    live = spark.createDataFrame(
        [(2, [0.0, 1.0]), (3, [1.0, 1.0])], "vec_id bigint, embedding array<float>"
    )
    for fn in (ivf_cosine_topk, lsh_bucketed_topk):
        e = fn(q, empty)
        assert e.count() == 0
        # same column names+types as the live path (nullability may
        # differ; unions relax it) → cross-partition unions work
        shape = lambda df: [(f.name, f.dataType) for f in df.schema.fields]
        assert shape(e) == shape(fn(q, live)), (fn.__name__, shape(e))

    rows = quantize_int8(
        spark.createDataFrame([(1, []), (2, [1.0, -2.0])], "vec_id bigint, embedding array<float>")
    ).orderBy("vec_id").collect()
    assert rows[0].n_dims == 0 and rows[0].max_abs_err_r is None
    assert rows[1].n_dims == 2


def test_ngram_topk_short_docs_contribute_no_grams(spark):
    from flink_samples_spark.llmops.corpus import ngram_topk

    docs = spark.createDataFrame(
        [(1, "hi"), (2, "one two"), (3, "a b c d")], "doc_id bigint, text string"
    )
    grams = {r.shingle for r in ngram_topk(docs, k=3, top=10).collect()}
    assert grams == {"a b c", "b c d"}, grams


def test_aggregate_wrappers_match_inline_forms(spark, sf_dir):
    """Code-review r5: the §2.4 wrapper operators were dead code —
    exercise each against its inline equivalent so they cannot rot."""
    from flink_samples_spark.operators.aggregates import (
        approx_count_distinct_agg,
        count_distinct_agg,
        global_agg,
    )
    from flink_samples_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    got = count_distinct_agg(li, ["l_returnflag"], "l_partkey", "n").orderBy(
        "l_returnflag"
    ).collect()
    want = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert got == want
    g = global_agg(li, [F.count(F.lit(1)).alias("n")]).first().n
    assert g == li.count()
    approx = {
        r.l_returnflag: r.n
        for r in approx_count_distinct_agg(li, ["l_returnflag"], "l_partkey", "n").collect()
    }
    exact = {r.l_returnflag: r.n for r in want}
    for k, n in approx.items():
        assert abs(n - exact[k]) <= max(0.2 * exact[k], 10), (k, n, exact[k])


def test_cosine_zero_vector_does_not_divide_by_zero(spark):
    """Code-review r6: an all-zero or empty embedding must score
    cos≈0, not throw DIVIDE_BY_ZERO under ANSI mode."""
    from flink_samples_spark.llmops.similarity import brute_force_cosine_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [])],
        "vec_id bigint, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    rows = {r.vec_id: r.cos for r in brute_force_cosine_topk(queries, corpus, k=3).collect()}
    assert rows[2] == 0.0 and rows[1] > 0.0
    # a WRONG-LENGTH row scores NULL (zip_with null-pads the dot),
    # not a crash — rank-last under cos DESC
    assert rows[3] is None


def test_language_id_null_text_is_unk(spark):
    """Code-review r6: NULL text must yield 'unk', not kill the Arrow
    task; and a stopword before a trailing newline must NOT count
    (Python $ matches before '\\n', \\Z does not)."""
    from flink_samples_spark.llmops.text import language_id

    docs = spark.createDataFrame(
        [(1, None), (2, "x the\n"), (3, "x the")], "doc_id bigint, text string"
    )
    got = {r.doc_id: (r.lang_pred, r.lang_hits) for r in language_id(docs).collect()}
    assert got[1] == ("unk", 0)
    assert got[2][1] == 0, "token 'the\\n' is not 'the' under the space split"
    assert got[3][1] >= 1


def test_token_counts_whitespace_trim(spark):
    """Code-review r6: tab/newline-bounded text must trim like
    space-bounded text; an all-whitespace doc counts 0 tokens."""
    from flink_samples_spark.llmops.text import token_counts

    docs = spark.createDataFrame(
        [(1, "\tfoo"), (2, "foo\n"), (3, "\t"), (4, " foo bar "), (5, "")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.n_ws_tokens for r in token_counts(docs).collect()}
    assert got == {1: 1, 2: 1, 3: 0, 4: 2, 5: 0}, got


def test_fingerprint_non_latin_docs_stay_distinct(spark):
    """Code-review r6: docs with no [a-z0-9] content canonicalize to
    '' — they must NOT all share one fingerprint (exact-dedup would
    collapse unrelated documents); identical raw texts still match."""
    from flink_samples_spark.llmops.text import fingerprint_expr

    docs = spark.createDataFrame(
        [(1, "你好世界"), (2, "!!!"), (3, "你好世界"), (4, "hello")],
        "doc_id bigint, text string",
    )
    fp = {r.doc_id: r.f for r in docs.select("doc_id", fingerprint_expr().alias("f")).collect()}
    assert fp[1] != fp[2], "distinct non-Latin docs must not share a fingerprint"
    assert fp[1] == fp[3], "identical raw non-Latin docs must still dedup"
    assert fp[4] not in (fp[1], fp[2])


def test_weighted_avg_udaf_null_mixed_group(spark):
    """NULL-mixed groups: a NULL value's weight is masked out of the
    denominator on BOTH sides (the q_udaf oracle now uses
    SUM(CASE WHEN value IS NOT NULL THEN w END); ADVICE r6). Here
    user 1 has values (10, NULL, 30) with weights derived from
    event_id%7+1 → (2, 3, 4): wavg = (10*2 + 30*4) / (2 + 4)."""
    from flink_samples_spark.functions.udfs import weighted_avg_grouped_agg

    ev = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, None), (3, 1, 30.0), (4, 2, None), (5, 2, None)],
        "event_id long, user_id long, value double",
    )
    got = {r["user_id"]: r["wavg"] for r in weighted_avg_grouped_agg(ev).collect()}
    assert got[1] == round((10 * 2 + 30 * 4) / (2 + 4), 6)
    assert got[2] is None  # all-NULL group is SQL NULL, not NaN


def test_hot_bucket_salting_recovers_pairs_drop_loses(spark):
    """Boilerplate-heavy corpus: 12 near-identical docs land in the
    same LSH bucket in (nearly) every band, blowing past max_bucket=4.
    The legacy drop policy discards those buckets and LOSES the pairs;
    triangle salting must recover the exact operator's full pair set
    (VERDICT r6 item 1). Both modes report the hot-bucket stats."""
    from flink_samples_spark.llmops.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    boiler = (
        "all rights reserved terms of service apply to this page "
        "contact the webmaster for further information about this site"
    )
    rows = [(i, f"{boiler} variant {i % 2}") for i in range(12)]
    # plus two unrelated singletons that must pair with nothing
    rows += [(100, "quick brown fox jumps over the lazy dog today"),
             (101, "completely different content about gardening and soil")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, 3, 0.8).collect()
    }
    assert len(exact) >= 2 * (6 * 5 // 2), "fixture must be pair-dense"

    drop_stats, salt_stats = {}, {}
    dropped = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, 3, 0.8, max_bucket=4, hot_buckets="drop", stats_out=drop_stats
        ).collect()
    }
    salted = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, 3, 0.8, max_bucket=4, hot_buckets="salt", stats_out=salt_stats
        ).collect()
    }
    spark.catalog.clearCache()
    assert dropped < exact, "drop policy must lose pairs on this corpus"
    assert salted == exact, "salting must preserve the exact pair set"
    assert drop_stats["mode"] == "drop" and drop_stats["hot_bucket_count"] > 0
    assert salt_stats["mode"] == "salt"
    assert salt_stats["hot_bucket_count"] == drop_stats["hot_bucket_count"]
    assert salt_stats["hot_doc_rows"] == drop_stats["hot_doc_rows"]


def test_bucket_candidate_pairs_triangle_exactness(spark):
    """Direct unit pin of the triangle salting: one bucket of 25 docs
    with max_bucket=5 must emit ALL C(25,2)=300 pairs — cell (i,j) is
    the unique cell containing both salts, so nothing is lost."""
    from flink_samples_spark.llmops.dedup import _bucket_candidate_pairs

    keyed = spark.createDataFrame(
        [(d, 0, 777) for d in range(25)], "doc_id long, band int, band_hash long"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in _bucket_candidate_pairs(
            keyed, ["band", "band_hash"], max_bucket=5, hot_buckets="salt"
        ).collect()
    }
    want = {(a, b) for a in range(25) for b in range(a + 1, 25)}
    assert got == want
    # cold path unchanged: same bucket under a loose cap gives the
    # same pairs (salting is a no-op when nothing is hot)
    cold = {
        (r.doc_a, r.doc_b)
        for r in _bucket_candidate_pairs(
            keyed, ["band", "band_hash"], max_bucket=1000, hot_buckets="salt"
        ).collect()
    }
    assert cold == want
    # drop mode discards the lone hot bucket entirely
    stats = {}
    none_left = _bucket_candidate_pairs(
        keyed, ["band", "band_hash"], max_bucket=5, hot_buckets="drop",
        stats_out=stats,
    ).count()
    assert none_left == 0
    assert stats == {"hot_bucket_count": 1, "hot_doc_rows": 25, "mode": "drop"}


def test_eager_probe_prunes_salt_stages_when_cold(spark):
    """Round-8 plan contract for salt mode's build-time probe: a
    corpus with zero hot buckets must get the pure cold expansion (no
    hot-cell redistribution exchange in the plan), a hot corpus must
    keep the salted two-branch shape. The hot-branch marker is the REPARTITION_BY_COL cell shuffle — the
    one node only the salt branch plants."""
    from flink_samples_spark.llmops.dedup import _bucket_candidate_pairs

    keyed = spark.createDataFrame(
        [(d, 0, 777) for d in range(25)], "doc_id long, band int, band_hash long"
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    cold = _bucket_candidate_pairs(keyed, ["band", "band_hash"], 1000, "salt")
    assert "REPARTITION_BY_COL" not in plan_of(cold)
    hot = _bucket_candidate_pairs(keyed, ["band", "band_hash"], 5, "salt")
    assert "REPARTITION_BY_COL" in plan_of(hot)
    spark.catalog.clearCache()


def test_salt_mode_unpersists_after_first_action(spark):
    """Round-8 cache-ownership contract (ADVICE r7): the grouped
    bucket table persisted by salt mode must be released by the
    observe waiter once the first action completes, so a library
    caller looping over corpora does not accumulate MEMORY_AND_DISK
    entries for the session."""
    import time

    from flink_samples_spark.llmops.dedup import _bucket_candidate_pairs

    def n_cached_rdds() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    spark.catalog.clearCache()
    base = n_cached_rdds()
    keyed = spark.createDataFrame(
        [(d, 0, 777) for d in range(25)], "doc_id long, band int, band_hash long"
    )
    pairs = _bucket_candidate_pairs(keyed, ["band", "band_hash"], 1000, "salt")
    pairs.count()  # first action: probe already materialized the cache
    # the waiter unpersists asynchronously after the action lands
    deadline = time.time() + 15
    while time.time() < deadline and n_cached_rdds() > base:
        time.sleep(0.25)
    assert n_cached_rdds() == base, (
        "salt-mode bucket-table persist still registered 15s after the "
        "first action — the observe waiter's unpersist did not fire"
    )
