"""MJPEG-AVI video tier (functions/avi.py + operators/multimodal.py):
container roundtrip, DHT-stripped frames via the Annex K defaults,
frame-sampled pHashes, and video near-dup over per-frame hashes."""

from __future__ import annotations

import numpy as np
import pytest

from evidence_datasource_parsers_spark.functions.avi import (
    decode_avi,
    encode_avi_mjpeg,
    strip_jpeg_dht,
)
from evidence_datasource_parsers_spark.functions.jpeg import decode_jpeg


def _clip(seed: int, n_frames: int = 6, size: int = 64):
    """A deterministic 'video': a slowly drifting 2-D wave, one phase per
    frame — low-frequency enough that a q60 re-encode stays within a few
    pHash bits per frame while different seeds land tens apart."""
    y, x = np.mgrid[0:size, 0:size]
    frames = []
    for t in range(n_frames):
        p = np.clip(
            128
            + 60 * np.sin(x / (9.0 + seed) + t * 0.3)
            + 50 * np.cos(y / (7.0 + seed) - t * 0.2)
            + 20 * np.sin(x * y / (301.0 + 40 * seed)),
            0, 255,
        )
        frames.append(
            np.stack([p, p * 0.8 + 20, p * 0.6 + 40], axis=2).astype(np.uint8)
        )
    return frames


def test_avi_container_roundtrip():
    frames = _clip(0)
    blob = encode_avi_mjpeg(frames, fps=10, quality=95)
    v = decode_avi(blob)
    assert v["n_frames"] == 6 and abs(v["fps"] - 10.0) < 1e-6
    assert (v["width"], v["height"]) == (64, 64)
    for i, fb in enumerate(v["frames"]):
        px = decode_jpeg(fb)
        err = np.abs(px.astype(float) - frames[i].astype(float))
        assert err.max() < 16  # q95 on smooth content


def test_mjpeg_frames_without_dht_decode_with_defaults():
    """The in-the-wild MJPEG convention: frames omit DHT; decode_jpeg must
    reproduce the full-stream decode exactly from the Annex K defaults
    (the encoder USES those tables, so the bits are identical)."""
    frames = _clip(1, n_frames=2)
    full = encode_avi_mjpeg(frames, quality=92)
    stripped = encode_avi_mjpeg(frames, quality=92, strip_dht=True)
    assert len(stripped) < len(full)
    vf, vs = decode_avi(full), decode_avi(stripped)
    assert b"\xff\xc4" not in vs["frames"][0][:2000].split(b"\xff\xda")[0]
    for fb_full, fb_str in zip(vf["frames"], vs["frames"]):
        with pytest.raises(ValueError):  # strict mode: missing DHT is corrupt
            decode_jpeg(fb_str)
        assert np.array_equal(
            decode_jpeg(fb_str, default_tables=True), decode_jpeg(fb_full)
        )


def test_decode_avi_malformed():
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi(b"RIFF\x00\x00\x00\x00WAVE")
    blob = encode_avi_mjpeg(_clip(0, 2))
    with pytest.raises(ValueError):
        decode_avi(blob[:40])  # truncated inside the header chunks
    # container with no movi frames
    empty = blob[:12] + b""
    with pytest.raises(ValueError):
        decode_avi(empty)


def test_video_frame_phashes_sampling(spark):
    from evidence_datasource_parsers_spark.operators.multimodal import (
        video_frame_phashes,
    )

    blob = encode_avi_mjpeg(_clip(0, n_frames=6), quality=95)
    df = spark.createDataFrame(
        [(1, blob), (2, b"not a video")], "media_id long, blob binary"
    )
    rows = video_frame_phashes(df, stride=2).collect()
    assert {r["media_id"] for r in rows} == {1}  # corrupt → zero rows
    assert sorted(r["frame_idx"] for r in rows) == [0, 2, 4]
    assert all(r["phash"] is not None for r in rows)
    capped = video_frame_phashes(df, stride=1, max_frames=2).collect()
    assert sorted(r["frame_idx"] for r in capped) == [0, 1]


def test_video_near_dup_re_encode_vs_distinct(spark):
    """A re-encoded, DHT-stripped copy of a clip matches nearly every
    frame; an unrelated clip matches none."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        video_near_dup_pairs,
    )

    clip = _clip(0)
    rows = [
        (1, encode_avi_mjpeg(clip, quality=95)),
        (2, encode_avi_mjpeg(clip, quality=60, strip_dht=True)),  # re-encode
        (3, encode_avi_mjpeg(_clip(5), quality=95)),              # distinct
    ]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    pairs = video_near_dup_pairs(df, min_overlap=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].overlap >= 0.5


def test_decode_blob_dispatches_avi():
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
    )

    d = decode_blob(encode_avi_mjpeg(_clip(2, 3), fps=5))
    assert d["media_type"] == "video" and d["format"] == "avi_mjpeg"
    assert d["n_frames"] == 3 and abs(d["fps"] - 5.0) < 1e-6
    assert len(d["frames"]) == 3


def test_strip_jpeg_dht_only_removes_dht():
    from evidence_datasource_parsers_spark.functions.jpeg import encode_jpeg

    blob = encode_jpeg(_clip(0, 1)[0], quality=90)
    stripped = strip_jpeg_dht(blob)
    head = stripped.split(b"\xff\xda")[0]
    assert b"\xff\xc4" not in head and b"\xff\xdb" in head  # DQT kept
    assert stripped.split(b"\xff\xda", 1)[1] == blob.split(b"\xff\xda", 1)[1]


def test_video_meta_frame(spark):
    from evidence_datasource_parsers_spark.operators.multimodal import (
        video_meta_frame,
    )

    df = spark.createDataFrame(
        [(1, encode_avi_mjpeg(_clip(0, 4), fps=8)), (2, b"junk")],
        "media_id long, blob binary",
    )
    out = {r["media_id"]: r for r in video_meta_frame(df).collect()}
    assert out[1]["n_frames"] == 4 and abs(out[1]["fps"] - 8.0) < 1e-6
    assert out[1]["width"] == 64
    assert out[2]["n_frames"] is None  # undecodable → NULL row


def test_incremental_video_dedupe_two_runs(spark):
    """The sixth fingerprint store: run 1 seeds frame hashes; run 2's
    re-encoded copy of a stored clip drops, a new clip keeps, an exact
    within-batch duplicate collapses to the min id, and an undecodable
    blob passes through unstored."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_video_dedupe,
    )

    clip = _clip(0)
    r1 = incremental_video_dedupe(
        spark.createDataFrame(
            [(1, encode_avi_mjpeg(clip, quality=95))],
            "media_id long, blob binary",
        ),
        None,
    )
    assert {r["media_id"] for r in r1.fresh.collect()} == {1}
    assert r1.store.count() == 6  # one row per sampled frame
    store = r1.store.localCheckpoint(eager=True)
    r1.pinned.unpersist()

    same_blob = encode_avi_mjpeg(_clip(7), quality=95)
    r2 = incremental_video_dedupe(
        spark.createDataFrame(
            [
                (10, encode_avi_mjpeg(clip, quality=60, strip_dht=True)),
                (11, same_blob),            # new clip …
                (12, same_blob),            # … exact duplicate → collapse
                (13, b"not a video"),       # undecodable → pass, unstored
            ],
            "media_id long, blob binary",
        ),
        store,
    )
    fresh = {r["media_id"] for r in r2.fresh.collect()}
    assert fresh == {11, 13}
    stored_ids = {r["media_id"] for r in r2.store.collect()}
    assert stored_ids == {1, 11}
    r2.pinned.unpersist()


def test_streaming_video_mode(spark, tmp_path):
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    clip = _clip(0)
    src = tmp_path / "vid_in"
    src.mkdir()
    out, store = str(tmp_path / "vid_fresh"), str(tmp_path / "vid_store")
    spark.createDataFrame(
        [(1, encode_avi_mjpeg(clip, quality=95))],
        "media_id long, blob binary",
    ).write.parquet(str(src / "b1"))

    def run(tag):
        stream = (
            spark.readStream.schema("media_id long, blob binary")
            .option("recursiveFileLookup", "true").parquet(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"ck_{tag}"),
            "blob", "media_id", mode="video",
        )
        q.awaitTermination()

    run("a")
    spark.createDataFrame(
        [
            (10, encode_avi_mjpeg(clip, quality=60, strip_dht=True)),
            (11, encode_avi_mjpeg(_clip(5), quality=95)),
        ],
        "media_id long, blob binary",
    ).write.parquet(str(src / "b2"))
    run("b")
    got = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert got == [1, 11]
    st = spark.read.parquet(store)
    assert sorted(st.columns) == ["frame_idx", "media_id", "phash"]


def test_warc_video_stats(spark):
    """Crawled video responses (WARC-style rows) → video_meta_frame: real
    container stats for MJPEG-AVI, a NULL row for a bare MP4 header."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        video_meta_frame,
    )

    media = spark.createDataFrame(
        [
            (1, "http://a.example/clip.avi",
             encode_avi_mjpeg(_clip(0, 3), fps=6)),
            (2, "http://a.example/clip.mp4", b"\x00\x00\x00\x18ftypmp42"),
        ],
        "media_id long, url string, blob binary",
    )
    stats = video_meta_frame(media, "blob", "media_id")
    out = {r["url"]: r for r in
           media.join(stats, on="media_id", how="left").collect()}
    avi = out["http://a.example/clip.avi"]
    assert avi["n_frames"] == 3 and abs(avi["fps"] - 6.0) < 1e-3
    assert out["http://a.example/clip.mp4"]["n_frames"] is None  # NULL row
