"""Text-analysis column ops + multimodal plumbing + streaming parity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from landlensdb_spark.operators import multimodal, textstats


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "one two  three"), (1, ""), (2, "  "), (3, "a"), (4, "a, b. c!")],
        "id long, text string",
    )
    got = {r["id"]: (r["n_tokens"], r["n_subwords"]) for r in
           textstats.with_text_stats(df).collect()}
    assert got[0][0] == 3 and got[1][0] == 0 and got[2][0] == 0 and got[3][0] == 1
    assert got[4] == (3, 6)  # a , b . c !


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house"),
            (1, "der hund und die katze und der vogel"),
            (2, "le chat et les chiens et le oiseau"),
            (3, "el perro que vive con los gatos el dia"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["lang_pred"] for r in textstats.with_text_stats(df).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es"}


def test_quality_score_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = textstats.with_text_stats(docs, "text")
    mm = stats.agg(F.min("quality"), F.max("quality")).collect()[0]
    assert 0.0 <= mm[0] <= mm[1] <= 1.0


def test_fingerprint_deterministic(spark):
    texts = ["hello world", "hello world", "hello worlds", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {r["id"]: r["fingerprint"] for r in textstats.with_fingerprint(df).collect()}
    assert got[0] == got[1] != got[2]
    assert got[3] == 0
    # pandas twin agrees
    import pandas as pd

    want = textstats.np_fingerprint(pd.Series(texts))
    assert [got[i] for i in range(4)] == list(want)


def test_multimodal_decode_and_features(spark):
    rows = [(f"u{i}", bytes([i]) * (10 + i)) for i in range(20)] + [("empty", b"")]
    df = spark.createDataFrame(rows, "url string, media binary")
    # arbitrary bytes are not decodable media: the DEFAULT decoder must say
    # so honestly (ok=False, no synthetic dims) ...
    meta = multimodal.decode_media(df).toPandas()
    assert len(meta) == 21
    assert not meta["ok"].any()
    assert (meta[meta["url"] == "empty"]["codec"] == "none").all()
    assert (meta[meta["url"] != "empty"]["codec"] == "unknown").all()
    # ... while the plumbing is exercised end-to-end with the explicit
    # test-fixture decoder swapped in via the DECODERS hook
    multimodal.DECODERS["decode"] = multimodal._fake_decode
    try:
        meta = multimodal.decode_media(df).toPandas()
    finally:
        multimodal.DECODERS["decode"] = multimodal.default_decode
    assert (meta[meta["url"] != "empty"]["ok"]).all()
    assert not meta[meta["url"] == "empty"]["ok"].iloc[0]
    assert ((meta["width"] >= 0) & (meta["width"] < 256)).all()

    feats = multimodal.media_features(df, dim=8).toPandas()
    assert len(feats) == 21
    assert all(len(v) == 8 for v in feats["feature"])
    # deterministic: same payload -> same feature
    f2 = multimodal.media_features(df, dim=8).toPandas()
    a = {u: tuple(v) for u, v in zip(feats["url"], feats["feature"])}
    b = {u: tuple(v) for u, v in zip(f2["url"], f2["feature"])}
    assert a == b

    # non-video payloads yield an EMPTY frame list (honest, no synthetic
    # slicing); real MJPEG-AVI sampling is covered in test_video_pipeline
    frames = multimodal.frame_sample(df, every_n=5).toPandas()
    assert all(len(f) == 0 for f in frames["frames"])


def test_real_decode_is_gated():
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"abc")


def test_streaming_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    from landlensdb_spark.streaming.events import (
        run_available_now,
        stream_pages,
        windowed_event_counts,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = windowed_event_counts(events).orderBy("win_start", "event_type").toPandas()

    # file-source streams consume a growing DIRECTORY; stage the fixture
    src_dir = str(tmp_path / "events_feed")
    events.write.parquet(src_dir)
    schema = events.schema.simpleString()[7:-1].replace(":", " ")
    stream = stream_pages(spark, src_dir, schema)
    agg = windowed_event_counts(stream)
    run_available_now(agg, str(tmp_path / "ckpt"), "evt_counts")
    streamed = (
        spark.table("evt_counts").orderBy("win_start", "event_type").toPandas()
    )
    assert len(batch) == len(streamed)
    assert (batch["n_events"].to_numpy() == streamed["n_events"].to_numpy()).all()
    assert np.allclose(batch["sum_value"], streamed["sum_value"])


def test_chunk_documents_windows(spark):
    """Window arithmetic: stride overlap, short-doc single chunk, tail
    windows kept, empty docs dropped."""
    import pytest

    from landlensdb_spark.operators import textstats

    texts = {
        1: " ".join(f"t{i}" for i in range(10)),  # 10 toks: starts 0,4,8
        2: "a b c",                                # 3 toks < stride: one chunk
        3: "",                                     # empty: no chunks
        4: " ".join(f"x{i}" for i in range(8)),    # exactly 2*stride: 0,4
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = textstats.chunk_documents(df, chunk_tokens=6, stride=4)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    assert sorted(k for k in rows) == [(1, 0), (1, 1), (1, 2), (2, 0), (4, 0), (4, 1)]
    assert rows[(1, 0)]["chunk_text"] == "t0 t1 t2 t3 t4 t5"
    assert rows[(1, 1)]["chunk_text"] == "t4 t5 t6 t7 t8 t9"  # overlap of 2
    assert rows[(1, 2)]["chunk_text"] == "t8 t9"  # tail kept
    assert rows[(1, 2)]["n_tokens"] == 2 and rows[(1, 2)]["chunk_start"] == 8
    assert rows[(2, 0)]["n_tokens"] == 3
    assert rows[(4, 1)]["chunk_start"] == 4 and rows[(4, 1)]["n_tokens"] == 4
    with pytest.raises(ValueError, match="positive"):
        textstats.chunk_documents(df, chunk_tokens=0, stride=4)


def test_video_pipeline(spark):
    """MJPEG-AVI through the production multimodal path: real metadata
    (dims + frame count), real frame sampling (each sampled element is a
    decodable standalone JPEG), pHash from the first frame; junk still
    reports ok=false."""
    import numpy as np

    from landlensdb_spark.operators.jpeg import decode_jpeg
    from landlensdb_spark.operators.video import encode_mjpeg_avi

    frames = [np.full((12, 20), 30 + 10 * i, np.uint8) for i in range(7)]
    blob = encode_mjpeg_avi(frames, fps=5)
    df = spark.createDataFrame(
        [("v", bytearray(blob)), ("junk", b"RIFFnope")], "url string, media binary"
    )
    meta = {r["url"]: r for r in multimodal.decode_media(df).collect()}
    assert (
        meta["v"]["width"], meta["v"]["height"], meta["v"]["n_frames"],
        meta["v"]["codec"], meta["v"]["ok"],
    ) == (20, 12, 7, "mjpeg-avi", True)
    assert not meta["junk"]["ok"]

    sampled = {r["url"]: r["frames"] for r in multimodal.frame_sample(df, every_n=3).collect()}
    assert len(sampled["v"]) == 3  # frames 0, 3, 6
    decoded = [decode_jpeg(bytes(f)) for f in sampled["v"]]
    assert [int(d[0, 0]) for d in decoded] == [30, 60, 90]
    assert sampled["junk"] == []

    ph = {r["url"]: r["phash"] for r in multimodal.media_phash(df).collect()}
    assert ph["v"] is not None and ph["junk"] is None


def test_corrupt_video_degrades_per_row(spark):
    """Forged RIFF sizes and truncated AVIs must yield ok=false / empty
    frames for THAT row — never a failed Arrow task (review finding)."""
    import struct as _s

    import numpy as np

    from landlensdb_spark.operators.video import avi_meta, encode_mjpeg_avi

    good = encode_mjpeg_avi([np.full((8, 8), 7, np.uint8)] * 3)
    forged = b"RIFF" + _s.pack("<I", 16) + b"AVI LIST" + b"\xff\xff\xff\x00" + b"hdrl"
    truncated = good[:-10]
    assert avi_meta(forged) is None  # no escaping struct.error
    df = spark.createDataFrame(
        [("good", bytearray(good)), ("forged", bytearray(forged)),
         ("trunc", bytearray(truncated))],
        "url string, media binary",
    )
    meta = {r["url"]: r["ok"] for r in multimodal.decode_media(df).collect()}
    assert meta == {"good": True, "forged": False, "trunc": True}  # trunc: header intact
    fr = {r["url"]: len(r["frames"]) for r in multimodal.frame_sample(df, every_n=1).collect()}
    assert fr["good"] == 3 and fr["forged"] == 0 and fr["trunc"] == 0


def test_gif_tiff_pipeline(spark):
    """GIF and TIFF through the production multimodal path: real metadata
    (dims + frame/page count), GIF frame sampling (each sampled element a
    standalone decodable single-image GIF), pHash coverage for both."""
    import numpy as np

    from landlensdb_spark.operators.gif import decode_gif, encode_gif_gray
    from landlensdb_spark.operators.tiff import encode_tiff_rgb

    gframes = [np.full((9, 15), 20 + 10 * i, np.uint8) for i in range(5)]
    gif_blob = encode_gif_gray(gframes)
    tiff_blob = encode_tiff_rgb(
        np.random.default_rng(3).integers(0, 256, (8, 11, 3), dtype=np.uint8)
    )
    df = spark.createDataFrame(
        [("g", bytearray(gif_blob)), ("t", bytearray(tiff_blob))],
        "url string, media binary",
    )
    meta = {r["url"]: r for r in multimodal.decode_media(df).collect()}
    assert (meta["g"]["width"], meta["g"]["height"], meta["g"]["n_frames"],
            meta["g"]["codec"], meta["g"]["ok"]) == (15, 9, 5, "gif", True)
    assert (meta["t"]["width"], meta["t"]["height"], meta["t"]["n_frames"],
            meta["t"]["codec"], meta["t"]["ok"]) == (11, 8, 1, "tiff", True)

    sampled = {r["url"]: r["frames"]
               for r in multimodal.frame_sample(df, every_n=2).collect()}
    assert len(sampled["g"]) == 3  # image blocks 0, 2, 4
    assert [int(decode_gif(bytes(f))[0, 0]) for f in sampled["g"]] == [20, 40, 60]
    assert sampled["t"] == []  # single-page TIFF is not a frame source

    ph = {r["url"]: r["phash"] for r in multimodal.media_phash(df).collect()}
    assert ph["g"] is not None and ph["t"] is not None


def test_media_ops_pass_longs_through_exactly(spark):
    """The Arrow->pandas trap: a long column with NULLs in the batch
    arrives in a pandas UDF as float64, silently rounding |x| > 2^53
    (a 64-bit hash loses its low bits — media_meta_v2 shipped with every
    lossless pHash distance reading 3-9 instead of 0 until this was
    found). The media operators keep pass-through columns in Arrow, so a
    nullable long of any magnitude must come back EXACTLY, NULL included."""
    from landlensdb_spark.operators import multimodal
    from landlensdb_spark.operators.raster import encode_png_gray

    blob = bytearray(encode_png_gray(np.arange(64, dtype=np.uint8).reshape(8, 8)))
    big, small = -(6 << 60) + 5, 123456
    mixed = spark.createDataFrame(
        [(1, big, blob), (2, None, blob)], "key long, h long, media binary"
    ).coalesce(1)  # null + big value in ONE batch: the float64 upcast case
    for op in (multimodal.decode_media, multimodal.media_phash, multimodal.frame_sample):
        got = {r["key"]: r["h"] for r in op(mixed).collect()}
        assert got == {1: big, 2: None}, op.__name__
    # null-free big values ride through exactly
    clean = spark.createDataFrame(
        [(1, big, blob), (2, big + 1, blob)], "key long, h long, media binary"
    )
    got = {r["key"]: r["h"] for r in multimodal.decode_media(clean).collect()}
    assert got == {1: big, 2: big + 1}
    # nullable and small
    ok = spark.createDataFrame(
        [(1, small, blob), (2, None, blob)], "key long, h long, media binary"
    ).coalesce(1)
    got = {r["key"]: r["h"] for r in multimodal.frame_sample(ok).collect()}
    assert got == {1: small, 2: None}
