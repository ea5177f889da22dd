"""Structured Streaming foreachBatch sinks over the persistent incremental
stores (streaming/incremental.py), drained with trigger(availableNow)."""

from __future__ import annotations


def test_incremental_dedupe_sink_remembers_across_runs(spark, tmp_path):
    """The foreachBatch store sink drops re-ingests arriving in LATER runs
    (beyond any watermark horizon): run 1 ingests docs 1-2; run 2 re-sends
    doc 1's text under a new id plus a new doc — only the new doc lands in
    the output, and the store accumulates all distinct content."""
    import json as _json

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    out = str(tmp_path / "fresh_out")
    store = str(tmp_path / "store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    (src / "b1.json").write_text(
        doc(1, "the first document body") + "\n" + doc(2, "another body")
    )

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        # fresh checkpoint per run: each run re-reads ALL files, so run 2
        # replays docs 1-2 — exactly the re-ingest the store must absorb
        ckpt = str(tmp_path / f"ckpt_{len(list(tmp_path.iterdir()))}")
        q = incremental_dedupe_sink(
            stream, out, store, ckpt, "text", "doc_id"
        )
        q.awaitTermination()

    run()
    first = sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    )
    assert first == [1, 2]
    assert spark.read.parquet(store).count() == 2

    (src / "b2.json").write_text(
        doc(10, "the first document body")  # re-crawl of doc 1's content
        + "\n"
        + doc(11, "a genuinely new document")
    )
    run()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    # doc 10 (re-ingested content) never lands; 11 does; 1-2 not duplicated
    assert got == [1, 2, 11]
    assert spark.read.parquet(store).count() == 3


def test_incremental_lsh_sink_drops_streamed_recrawls(spark, tmp_path):
    """mode='lsh': a one-word-changed re-crawl STREAMED in a later run is
    dropped against the persisted fingerprint store — near-dup memory no
    watermark could provide."""
    import json as _json

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    recrawl = base.replace("afternoon", "evening")
    novel = (
        "completely unrelated content about distributed query engines "
        "partitioning shuffle exchanges and adaptive execution plans"
    )
    src = tmp_path / "lsh_in"
    src.mkdir()
    out = str(tmp_path / "lsh_out")
    store = str(tmp_path / "lsh_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    (src / "b1.json").write_text(doc(1, base))

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"lsh_ck{runs[0]}"),
            "text", "doc_id", mode="lsh", shingle_mode="word", k=3,
        )
        q.awaitTermination()

    run()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1]

    (src / "b2.json").write_text(doc(10, recrawl) + "\n" + doc(11, novel))
    run()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 11]  # 10 = near-dup re-crawl dropped; 1 not re-emitted
    # store carries fingerprint rows for docs 1 and 11 only
    assert {
        r.doc_id for r in spark.read.parquet(store).collect()
    } == {1, 11}


def test_streaming_distinct_count_sink(spark, tmp_path):
    """The sketch store accumulates across runs and re-ingests do not
    inflate it: run 1 sees 100 urls, run 2 replays them plus 50 new —
    the estimate tracks 150, not 250."""
    import json as _json

    import pytest

    from evidence_datasource_parsers_spark.operators.sketches import (
        sketch_store_estimates,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        streaming_distinct_count_sink,
    )

    src = tmp_path / "urls_in"
    src.mkdir()
    store = str(tmp_path / "hll_store")

    def rows(lo, hi):
        return "\n".join(
            _json.dumps({"domain": "a", "url": f"u{i}"})
            for i in range(lo, hi)
        )

    (src / "b1.json").write_text(rows(0, 100))

    def run():
        stream = (
            spark.readStream.schema("domain string, url string")
            .json(str(src))
        )
        ckpt = str(tmp_path / f"ck_{len(list(tmp_path.iterdir()))}")
        q = streaming_distinct_count_sink(
            stream, store, ckpt, ["domain"], "url"
        )
        q.awaitTermination()

    def probe():
        return {
            r.domain: r.approx_distinct
            for r in sketch_store_estimates(
                spark.read.parquet(store), ["domain"]
            ).collect()
        }

    run()
    assert probe()["a"] == pytest.approx(100, rel=0.05)

    # run 2 replays b1 (fresh checkpoint) + 50 genuinely new urls — the
    # replay APPENDS a redundant sketch row that the register-maxima
    # merge absorbs
    (src / "b2.json").write_text(rows(100, 150))
    run()
    est2 = probe()
    assert est2["a"] == pytest.approx(150, rel=0.05)
    assert est2["a"] < 220  # replay did NOT double-count
    # advance was append-only: the raw history holds one sketch row per
    # (group, processed micro-batch) — at least run 1's plus run 2's
    # (run 2 may fold b1+b2 into one micro-batch under availableNow)
    assert spark.read.parquet(store).count() >= 2


def test_incremental_dedupe_sink_embedding_mode(spark, tmp_path):
    """Streaming semantic dedup against the INT8 vector store: run 2's
    exact re-embed of a stored vector is dropped, the new vector lands."""
    import json as _json

    src = tmp_path / "vecs_in"
    src.mkdir()
    out = str(tmp_path / "fresh_vecs")
    store = str(tmp_path / "qstore")

    def vec(i, direction):
        v = [0.0] * 8
        v[direction] = 1.0
        return _json.dumps({"vec_id": i, "embedding": v})

    (src / "b1.json").write_text(vec(1, 0) + "\n" + vec(2, 1))

    def run():
        stream = (
            spark.readStream
            .schema("vec_id long, embedding array<double>")
            .json(str(src))
        )
        ckpt = str(tmp_path / f"ckv_{len(list(tmp_path.iterdir()))}")
        q = incremental_dedupe_sink_embedding(stream, out, store, ckpt)
        q.awaitTermination()

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    def incremental_dedupe_sink_embedding(stream, out, store, ckpt):
        return incremental_dedupe_sink(
            stream, out, store, ckpt, "embedding", "vec_id",
            mode="embedding", dim=8, threshold=0.99,
        )

    run()
    assert sorted(
        r.vec_id for r in spark.read.parquet(out).collect()
    ) == [1, 2]

    (src / "b2.json").write_text(vec(10, 0) + "\n" + vec(11, 2))
    run()  # fresh checkpoint: replays b1 (absorbed) + b2
    ids = sorted(r.vec_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 11]  # re-embed 10 of direction-0 dropped
    st = spark.read.parquet(store)
    assert sorted(st.columns) == ["q_embedding", "q_scale", "vec_id"]
    assert st.count() == 3


def test_store_swap_crash_recovery(tmp_path):
    """ADVICE r4: a crash between the swap's two renames leaves no dir at
    store_dir; recover_store_dir must restore the lone __old_* dir instead
    of silently restarting from an empty store, and sweep stale leftovers
    once a store is present."""
    import os

    from evidence_datasource_parsers_spark.streaming.incremental import (
        recover_store_dir,
        swap_store_dir,
    )

    store = str(tmp_path / "store")

    def mkdir_with(name: str, marker: str) -> None:
        os.makedirs(name)
        with open(os.path.join(name, "marker"), "w") as fh:
            fh.write(marker)

    # crash window: store renamed away, swap dir still on disk
    mkdir_with(f"{store}__old_deadbeef", "v1")
    mkdir_with(f"{store}__swap_cafef00d", "v2-unswapped")
    assert recover_store_dir(store) is True
    assert open(os.path.join(store, "marker")).read() == "v1"
    # stale swap swept
    assert not os.path.isdir(f"{store}__swap_cafef00d")

    # normal swap path: tmp replaces store, old removed
    mkdir_with(f"{store}__swap_01234567", "v2")
    swap_store_dir(store, f"{store}__swap_01234567")
    assert open(os.path.join(store, "marker")).read() == "v2"
    assert recover_store_dir(store) is False  # nothing to do
    assert os.listdir(tmp_path) == ["store"]

    # no store, no leftovers → first-run semantics, no restore
    import shutil

    shutil.rmtree(store)
    assert recover_store_dir(store) is False


def test_store_recovery_picks_newest_old_by_mtime(tmp_path):
    """ADVICE r5: the __old_ suffix is a random uuid, so with two crash
    leftovers the recovery must order by directory mtime, not name —
    otherwise it can resurrect the older store state."""
    import os
    import time

    from evidence_datasource_parsers_spark.streaming.incremental import (
        recover_store_dir,
    )

    store = str(tmp_path / "store")
    # name order says "aaaa" < "zzzz"; make the LEXICALLY SMALLER one newer
    older = f"{store}__old_zzzzzzzz"
    newer = f"{store}__old_aaaaaaaa"
    for d, content, age in ((older, "old-state", 100), (newer, "new-state", 0)):
        os.makedirs(d)
        with open(os.path.join(d, "marker"), "w") as fh:
            fh.write(content)
        past = time.time() - age
        os.utime(d, (past, past))

    assert recover_store_dir(store) is True
    assert open(os.path.join(store, "marker")).read() == "new-state"
    assert not os.path.isdir(older)  # stale leftover swept


def _perceptual_sink_two_runs(spark, tmp_path, mode, blobs1, blobs2, expect):
    """Shared driver for the perceptual streaming modes (phash/audio):
    parquet-source stream → incremental_dedupe_sink(mode) twice with a
    fresh checkpoint (run 2 replays batch 1, absorbed by the store)."""
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    src = tmp_path / f"{mode}_in"
    src.mkdir()
    out = str(tmp_path / f"{mode}_fresh")
    store = str(tmp_path / f"{mode}_store")
    spark.createDataFrame(blobs1, "media_id long, blob binary") \
        .write.parquet(str(src / "b1"))

    def run(tag):
        stream = (
            spark.readStream.schema("media_id long, blob binary")
            .option("recursiveFileLookup", "true").parquet(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"ck_{mode}_{tag}"),
            "blob", "media_id", mode=mode,
        )
        q.awaitTermination()

    run("a")
    assert sorted(
        r.media_id for r in spark.read.parquet(out).collect()
    ) == sorted(b[0] for b in blobs1)
    spark.createDataFrame(blobs2, "media_id long, blob binary") \
        .write.parquet(str(src / "b2"))
    run("b")
    got = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert got == sorted(expect)
    return spark.read.parquet(store)


def test_incremental_dedupe_sink_phash_mode(spark, tmp_path):
    """Streaming perceptual-image dedup: run 2's JPEG re-encode of a
    stored photo drops; the genuinely new photo lands."""
    import numpy as np

    from evidence_datasource_parsers_spark.functions.jpeg import encode_jpeg

    y, x = np.mgrid[0:64, 0:64]
    p = np.clip(
        128 + 60 * np.sin(x / 9.0) + 50 * np.cos(y / 7.0)
        + 20 * np.sin((x * y) / 301.0), 0, 255,
    )
    photo = np.stack([p, p * 0.8 + 20, p * 0.6 + 40], axis=2).astype(np.uint8)
    q2 = np.clip(128 + 70 * np.cos(x / 5.0) - 40 * np.sin(y / 11.0), 0, 255)
    other = np.stack([q2] * 3, axis=2).astype(np.uint8)
    st = _perceptual_sink_two_runs(
        spark, tmp_path, "phash",
        [(1, encode_jpeg(photo, quality=95))],
        [(10, encode_jpeg(photo, quality=60)),
         (11, encode_jpeg(other, quality=95))],
        expect=[1, 11],
    )
    assert sorted(st.columns) == ["media_id", "phash"] and st.count() == 2


def test_incremental_dedupe_sink_audio_mode(spark, tmp_path):
    """Streaming perceptual-audio dedup: run 2's resampled re-render of a
    stored recording drops; the new recording lands."""
    import struct as _struct

    import numpy as np

    def wav(samples_f, rate):
        pcm = np.clip(samples_f * 32767.0, -32768, 32767).astype("<i2")
        data = pcm.tobytes()
        fmt = _struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        return (
            b"RIFF" + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", len(data)) + data
        )

    def tone(rate, freqs):
        t = np.arange(rate * 2) / rate
        v = sum(a * np.sin(2 * np.pi * f * t) for f, a in freqs)
        v = v * (0.6 + 0.4 * np.sin(np.pi * t))
        return v / (np.abs(v).max() + 1e-9) * 0.8

    song = [(220.0, 1.0), (550.0, 0.7), (1320.0, 0.5)]
    other = [(330.0, 1.0), (880.0, 0.8), (1760.0, 0.4)]
    st = _perceptual_sink_two_runs(
        spark, tmp_path, "audio",
        [(1, wav(tone(8000, song), 8000))],
        [(10, wav(tone(16000, song), 16000)),
         (11, wav(tone(8000, other), 8000))],
        expect=[1, 11],
    )
    assert sorted(st.columns) == ["afp", "media_id"] and st.count() == 2


def test_incremental_dedupe_sink_span_mode(spark, tmp_path):
    """mode='span': a passage first seen in run 1 is EXCISED from a run-2
    document that repeats it — the doc itself survives, rewritten."""
    import json as _json

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    shared = "alpha beta gamma delta epsilon"
    d1 = f"one two three four five {shared}"
    d2 = f"six seven eight nine ten {shared} eleven twelve"
    src = tmp_path / "span_in"
    src.mkdir()
    out = str(tmp_path / "span_out")
    store = str(tmp_path / "span_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    (src / "b1.json").write_text(doc(1, d1))

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"span_ck{runs[0]}"),
            "text", "doc_id", mode="span", min_tokens=4,
        )
        q.awaitTermination()

    run()
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[1].n_removed_tokens == 0  # nothing duplicated yet

    (src / "b2.json").write_text(doc(2, d2))
    run()
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2}  # doc 2 appended, not dropped
    assert rows[2].n_removed_tokens == 5
    assert rows[2].clean_text == "six seven eight nine ten eleven twelve"
    # gram store carries saturating counts, capped at 2
    st = spark.read.parquet(store).collect()
    assert st and max(r.n_seen for r in st) == 2
    # the sink recorded the cap sidecar, and a later run configured with a
    # DIFFERENT threshold fails loudly before touching the store
    from evidence_datasource_parsers_spark.operators.span_dedup import (
        read_gram_store_meta,
    )

    assert read_gram_store_meta(store) == 2
    (src / "b3.json").write_text(doc(3, "unrelated words only here"))
    stream3 = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    q3 = incremental_dedupe_sink(
        stream3, out, store, str(tmp_path / "span_ck_conflict"),
        "text", "doc_id", mode="span", min_tokens=4, min_occurrences=3,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="min_occurrences"):
        q3.awaitTermination()
    assert read_gram_store_meta(store) == 2  # sidecar untouched
    # a LEGACY store (parquet, no sidecar) is ambiguous — the sink must
    # refuse rather than adopt this run's cap as the store's identity
    legacy = str(tmp_path / "span_store_legacy")
    spark.read.parquet(store).write.parquet(legacy)
    stream4 = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    q4 = incremental_dedupe_sink(
        stream4, out, legacy, str(tmp_path / "span_ck_legacy"),
        "text", "doc_id", mode="span", min_tokens=4,
    )
    with _pytest.raises(Exception, match="_span_gram_meta"):
        q4.awaitTermination()
    assert read_gram_store_meta(legacy) is None  # still unstamped


def test_incremental_lsh_sink_provenance_and_cap(spark, tmp_path):
    """Production knobs through the streaming surface: hot_bucket_cap
    rides dedupe_opts into incremental_lsh_dedupe, and provenance_dir
    accumulates the per-batch lsh_drop_provenance audit naming which
    stored doc killed each streamed re-crawl."""
    import json as _json

    import pytest

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    recrawl = base.replace("afternoon", "evening")
    novel = (
        "completely unrelated content about distributed query engines "
        "partitioning shuffle exchanges and adaptive execution plans"
    )
    src = tmp_path / "pv_in"
    src.mkdir()
    out = str(tmp_path / "pv_out")
    store = str(tmp_path / "pv_store")
    prov = str(tmp_path / "pv_audit")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    (src / "b1.json").write_text(doc(1, base))

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"pv_ck{runs[0]}"),
            "text", "doc_id", mode="lsh", shingle_mode="word", k=3,
            hot_bucket_cap=4, provenance_dir=prov,
        )
        q.awaitTermination()

    run()  # first run: no prior store → nothing to audit yet
    import os

    assert not os.path.isdir(prov)

    (src / "b2.json").write_text(doc(10, recrawl) + "\n" + doc(11, novel))
    run()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 11]
    audit = spark.read.parquet(prov).collect()
    # fresh checkpoint ⇒ run 2 re-reads b1.json too: doc 1's exact
    # store-hit is audited alongside doc 10's near-dup drop
    assert {(r.batch_id, r.store_id, r.reason) for r in audit} == {
        (10, 1, "near"), (1, 1, "exact"),
    }
    assert all(r.stream_batch_id is not None for r in audit)

    with pytest.raises(ValueError, match="provenance_dir"):
        incremental_dedupe_sink(
            spark.readStream.schema("doc_id long, text string")
            .json(str(src)),
            out, store, str(tmp_path / "pv_ck_bad"),
            "text", "doc_id", mode="exact", provenance_dir=prov,
        )


def test_incremental_dedupe_sink_remux_mode(spark, tmp_path):
    """mode='remux': a re-containered copy of a streamed clip is dropped
    against the persisted (id, stream_hash) store — exact elementary-
    stream memory that needs no codec (real for MP4/H.264)."""
    from evidence_datasource_parsers_spark.functions.mp4 import encode_mp4
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    samples = [bytes([70 + i]) * (28 + i) for i in range(5)]
    base = encode_mp4(samples, 64, 48)
    remux = encode_mp4(samples, 64, 48, moov_first=True, free_bytes=16)
    other = encode_mp4([b"\x55" * 33] * 3, 32, 32)

    src = tmp_path / "rm_in"
    src.mkdir()
    out = str(tmp_path / "rm_out")
    store = str(tmp_path / "rm_store")

    def write_batch(name, rows):
        import pandas as pd

        pd.DataFrame(rows, columns=["media_id", "blob"]).to_parquet(
            str(src / name)
        )

    write_batch("b1.parquet", [(1, base)])
    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("media_id long, blob binary")
            .parquet(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"rm_ck{runs[0]}"),
            "blob", "media_id", mode="remux",
        )
        q.awaitTermination()

    run()
    assert [r.media_id for r in spark.read.parquet(out).collect()] == [1]

    write_batch("b2.parquet", [(10, remux), (11, other)])
    run()
    got = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert got == [1, 11]  # 10 = remux of stored stream, dropped
    assert {r.media_id for r in spark.read.parquet(store).collect()} \
        == {1, 11}


def test_streaming_histogram_and_frequency_sinks(spark, tmp_path):
    """The histogram and CMS counter stores get the same streaming
    maintenance as the HLL sink: each run appends the batch's own
    mergeable rows, and the collapsing probes read the accumulated
    history exactly."""
    import json as _json

    from evidence_datasource_parsers_spark.operators.sketches import (
        cms_estimate,
        compact_histogram_store,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        streaming_frequency_sink,
        streaming_histogram_sink,
    )

    src = tmp_path / "vals_in"
    src.mkdir()
    hstore = str(tmp_path / "hist_store")
    cstore = str(tmp_path / "cms_store")
    edges = [10.0, 20.0]

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(
                _json.dumps({"g": "a", "v": v, "tok": t}) for v, t in rows
            )
        )

    def run():
        # REUSED checkpoint dirs: run 2 processes only the new file —
        # the cross-run incremental behavior under test
        stream = spark.readStream.schema(
            "g string, v double, tok string"
        ).json(str(src))
        streaming_histogram_sink(
            stream, hstore, str(tmp_path / "ckh"), ["g"], "v", edges
        ).awaitTermination()
        stream2 = spark.readStream.schema(
            "g string, v double, tok string"
        ).json(str(src))
        streaming_frequency_sink(
            stream2, cstore, str(tmp_path / "ckc"), ["g"], "tok"
        ).awaitTermination()

    write_batch("b1.json", [(5.0, "x"), (15.0, "x"), (25.0, "y")])
    run()
    write_batch("b2.json", [(15.0, "x"), (15.0, "z")])
    run()

    hist = {
        r["g"]: r["counts"]
        for r in compact_histogram_store(
            spark.read.parquet(hstore), ["g"]
        ).collect()
    }
    assert hist["a"] == [1, 3, 1]  # 5 | 15,15,15 | 25
    items = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("a", "z"), ("a", "w")],
        "g string, tok string",
    )
    est = {
        r.tok: r.est_count
        for r in cms_estimate(
            spark.read.parquet(cstore), items, ["g"], "tok"
        ).collect()
    }
    assert est == {"x": 3, "y": 1, "z": 1, "w": 0}
    # append-only history: run 2 added rows beside run 1's
    assert spark.read.parquet(hstore).count() == 2  # one counts row/run


def test_counter_sink_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch replay (crash between the append and the checkpoint
    commit) must NOT double-count: each batch lands as one
    deterministically named file that a replay overwrites
    (write_batch_summary, the primitive under all three counter sinks)."""
    import os

    from evidence_datasource_parsers_spark.operators.sketches import (
        compact_histogram_store,
        histogram_store,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        write_batch_summary,
    )

    store = str(tmp_path / "hstore")
    batch = spark.createDataFrame(
        [("a", 5.0), ("a", 15.0)], "g string, v double"
    )
    summary = histogram_store(batch, ["g"], "v", [10.0, 20.0])
    write_batch_summary(summary, store, "tok1", 0)
    write_batch_summary(summary, store, "tok1", 0)  # replay of batch 0
    hist = {
        r["g"]: r["counts"]
        for r in compact_histogram_store(
            spark.read.parquet(store), ["g"]
        ).collect()
    }
    assert hist["a"] == [1, 1, 0]  # counted once, not twice
    # a genuinely NEW batch (same stream) adds; a different stream's
    # batch 0 does not clobber this stream's batch 0
    write_batch_summary(summary, store, "tok1", 1)
    write_batch_summary(summary, store, "tok2", 0)
    hist = {
        r["g"]: r["counts"]
        for r in compact_histogram_store(
            spark.read.parquet(store), ["g"]
        ).collect()
    }
    assert hist["a"] == [3, 3, 0]
    names = sorted(os.listdir(store))
    assert names == [
        "batch-tok1-0.parquet", "batch-tok1-1.parquet",
        "batch-tok2-0.parquet",
    ]


def test_streaming_sample_sink(spark, tmp_path):
    """The bottom-k sink appends each batch's sample beside the history
    and sample_quantiles re-reduces it raw — same cross-run incremental
    contract as the other counter sinks."""
    import json as _json

    from evidence_datasource_parsers_spark.operators.sketches import (
        sample_quantiles,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        streaming_sample_sink,
    )

    src = tmp_path / "bk_in"
    src.mkdir()
    store = str(tmp_path / "bk_store")

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(
                _json.dumps({"g": "a", "id": i, "v": v}) for i, v in rows
            )
        )

    def run():
        stream = spark.readStream.schema(
            "g string, id long, v double"
        ).json(str(src))
        streaming_sample_sink(
            stream, store, str(tmp_path / "ckbk"), ["g"], "id", "v", k=64
        ).awaitTermination()

    write_batch("b1.json", [(i, float(i)) for i in range(100)])
    run()
    write_batch("b2.json", [(100 + i, float(100 + i)) for i in range(100)])
    run()
    got = sample_quantiles(
        spark.read.parquet(store), ["g"], [0.5], k=64, out_cols=["p50"]
    ).collect()[0]
    # uniform 0..199 → sample median within rank error of 100
    assert 40 <= got["p50"] <= 160
    # two appended batch files (one deterministic file per batch)
    import os

    assert len([f for f in os.listdir(store) if f.endswith(".parquet")]) == 2
    # the sink stamped k as store identity; a differently-configured
    # later run is refused before touching the store
    from evidence_datasource_parsers_spark.operators.sketches import (
        read_bottomk_store_meta,
    )

    import pytest as _pytest

    assert read_bottomk_store_meta(store) == 64
    write_batch("b3.json", [(999, 1.0)])
    stream3 = spark.readStream.schema("g string, id long, v double").json(
        str(src)
    )
    q3 = streaming_sample_sink(
        stream3, store, str(tmp_path / "ckbk_conflict"),
        ["g"], "id", "v", k=128,
    )
    with _pytest.raises(Exception, match="k="):
        q3.awaitTermination()
    assert read_bottomk_store_meta(store) == 64
    # stamp-first self-heal: a sidecar-only dir (crash between the stamp
    # and the first append) is accepted by a matching re-run, not wedged
    from evidence_datasource_parsers_spark.operators.sketches import (
        write_bottomk_store_meta,
    )

    healed = str(tmp_path / "bk_store_healed")
    write_bottomk_store_meta(healed, 64)  # sidecar-only dir
    stream4 = spark.readStream.schema("g string, id long, v double").json(
        str(src)
    )
    streaming_sample_sink(
        stream4, healed, str(tmp_path / "ckbk_heal"), ["g"], "id", "v",
        k=64,
    ).awaitTermination()
    assert spark.read.parquet(healed).count() > 0


def test_incremental_dedupe_sink_canon_mode(spark, tmp_path):
    """mode='canon': every streamed doc is appended ENRICHED with
    canonical_id/canonical; batch-2 labels converge on batch-1
    representatives; a full replay advances the store by NOTHING (all
    replayed labels map to stored reps, so the delta is empty); a
    mismatched max_dist is refused via the identity sidecar."""
    import json as _json

    import pytest as _pytest

    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        read_canon_store_meta,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    src = tmp_path / "canon_in"
    src.mkdir()
    out = str(tmp_path / "canon_out")
    store = str(tmp_path / "canon_store")

    def doc(i, label):
        return _json.dumps({"doc_id": i, "label": label})

    def run(ckpt, **opts):
        stream = (
            spark.readStream.schema("doc_id long, label string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / ckpt),
            "label", "doc_id", mode="canon", **opts,
        )
        q.awaitTermination()

    (src / "b1.json").write_text(
        doc(1, "colour") + "\n" + doc(2, "color")
    )
    run("ck_shared", max_dist=1)
    rows = {r.doc_id: (r.canonical_id, r.canonical)
            for r in spark.read.parquet(out).collect()}
    assert rows == {1: (1, "colour"), 2: (1, "colour")}
    # store carries k+1=2 segment rows for the single elected rep
    st = spark.read.parquet(store).collect()
    assert {(r.canonical_id, r.canonical) for r in st} == {(1, "colour")}
    assert len(st) == 2
    assert read_canon_store_meta(store) == 1

    # batch 2 (same checkpoint → only the new file): near-re-crawl
    # converges on the STORED rep; a new label elects a new one
    (src / "b2.json").write_text(
        doc(10, "colouur") + "\n" + doc(11, "brand new")
    )
    run("ck_shared", max_dist=1)
    rows = {r.doc_id: (r.canonical_id, r.canonical)
            for r in spark.read.parquet(out).collect()}
    assert rows[10] == (1, "colour")
    assert rows[11] == (11, "brand new")
    assert set(rows) == {1, 2, 10, 11}
    st = spark.read.parquet(store).collect()
    assert {(r.canonical_id, r.canonical) for r in st} == {
        (1, "colour"), (11, "brand new")
    }
    assert len(st) == 4

    # full replay (fresh checkpoint re-reads every file): all four docs
    # map to stored reps, the delta is empty, the store does NOT grow —
    # store-advance idempotence under replay
    run("ck_replay", max_dist=1)
    st2 = spark.read.parquet(store).collect()
    assert len(st2) == 4
    replayed = [
        (r.doc_id, r.canonical_id)
        for r in spark.read.parquet(out).collect()
    ]
    assert sorted(replayed) == sorted(
        [(1, 1), (2, 1), (10, 1), (11, 11)] * 2
    )

    # identity: a run at a different k is refused before touching the store
    (src / "b3.json").write_text(doc(20, "whatever"))
    stream_bad = (
        spark.readStream.schema("doc_id long, label string")
        .json(str(src))
    )
    q_bad = incremental_dedupe_sink(
        stream_bad, out, store, str(tmp_path / "ck_bad"),
        "label", "doc_id", mode="canon", max_dist=2,
    )
    with _pytest.raises(Exception, match="max_dist"):
        q_bad.awaitTermination()
    assert read_canon_store_meta(store) == 1
    assert spark.read.parquet(store).count() == 4
    # a legacy sidecar-less store is ambiguous — refused, not adopted
    legacy = str(tmp_path / "canon_store_legacy")
    spark.read.parquet(store).write.parquet(legacy)
    stream_leg = (
        spark.readStream.schema("doc_id long, label string")
        .json(str(src))
    )
    q_leg = incremental_dedupe_sink(
        stream_leg, out, legacy, str(tmp_path / "ck_leg"),
        "label", "doc_id", mode="canon", max_dist=1,
    )
    with _pytest.raises(Exception, match="_canon_store_meta"):
        q_leg.awaitTermination()


def test_incremental_dedupe_sink_bucketed_store_table(spark, tmp_path):
    """store_table: the sink carries the exact-hash store as a BUCKETED
    catalog table — round-12 closure of the O(store)-shuffle-per-batch
    weak.  Semantics must be identical to the plain-dir sink (re-ingests
    dropped across runs), the table must exist with its sidecar, and a
    RESTARTED stream (simulated by dropping the in-memory catalog entry)
    must re-register from the sidecar instead of degrading."""
    import json as _json
    import uuid

    from evidence_datasource_parsers_spark.sources.sinks import (
        BUCKET_SPEC_FILE,
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    table = f"sink_store_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "bt_in"
    src.mkdir()
    out = str(tmp_path / "bt_out")
    store = str(tmp_path / "bt_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    (src / "b1.json").write_text(
        doc(1, "the first document body") + "\n" + doc(2, "another body")
    )

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"bt_ck{runs[0]}"),
            "text", "doc_id", store_table=table, store_buckets=8,
        )
        q.awaitTermination()

    try:
        run()
        assert sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        ) == [1, 2]
        # the store is a real bucketed table with its durable sidecar
        assert spark.catalog.tableExists(table)
        spec = read_bucket_spec(store)
        assert spec == {
            "bucket_cols": ["content_hash"],
            "n_buckets": 8,
            "schema": "`content_hash` bigint",
        }, spec
        assert (tmp_path / "bt_store" / BUCKET_SPEC_FILE).is_file()

        # restart: a new session's in-memory catalog would be empty — the
        # sidecar re-registration path must restore the table, and the
        # cross-run dedup memory with it
        spark.sql(f"DROP TABLE {table}")
        (src / "b2.json").write_text(
            doc(10, "the first document body")  # re-crawl of doc 1
            + "\n"
            + doc(11, "a genuinely new document")
        )
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 2, 11]
        assert spark.catalog.tableExists(table)  # re-registered
        assert spark.table(table).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_lsh_sink_bucketed_store_table(spark, tmp_path):
    """mode='lsh' through the bucketed table path: the non-trivial store
    schema (band/key/sig array/content_hash/id) survives the bucketed
    write+append round-trip and near-dup re-crawls are still dropped."""
    import json as _json
    import uuid

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    recrawl = base.replace("afternoon", "evening")
    novel = (
        "completely unrelated content about distributed query engines "
        "partitioning shuffle exchanges and adaptive execution plans"
    )
    table = f"sink_lsh_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "btl_in"
    src.mkdir()
    out = str(tmp_path / "btl_out")
    store = str(tmp_path / "btl_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    (src / "b1.json").write_text(doc(1, base))
    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"btl_ck{runs[0]}"),
            "text", "doc_id", mode="lsh", shingle_mode="word", k=3,
            store_table=table, store_buckets=8,
        )
        q.awaitTermination()

    try:
        run()
        (src / "b2.json").write_text(doc(10, recrawl) + "\n" + doc(11, novel))
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 11]
        assert {
            r.doc_id for r in spark.table(table).collect()
        } == {1, 11}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_sink_store_table_guards(spark, tmp_path):
    """The three refusal paths: a derived-key mode cannot take
    store_table; a plain-parquet dir (no sidecar) cannot be declared
    bucketed; a catalog name already bound to a DIFFERENT directory is a
    stale registration, not a store."""
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.sources.sinks import (
        write_bucketed_store,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
        incremental_dedupe_sink,
    )

    never = tmp_path / "never_read"
    never.mkdir()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(never))
    )
    with pytest.raises(ValueError, match="derives its probe-join keys"):
        incremental_dedupe_sink(
            stream, "o", "s", "c", "text", "doc_id",
            mode="video", store_table="nope",
        )

    # plain-parquet dir: refusing to lie to the planner
    plain = tmp_path / "plain_store"
    spark.range(3).selectExpr("id AS content_hash").write.parquet(str(plain))
    with pytest.raises(ValueError, match="_bucket_spec.json"):
        read_store(spark, str(plain), f"t_{uuid.uuid4().hex[:8]}")

    # stale catalog entry pointing elsewhere
    table = f"stale_{uuid.uuid4().hex[:8]}"
    other = tmp_path / "other_store"
    try:
        write_bucketed_store(
            spark.range(3).selectExpr("id AS content_hash"),
            str(other), table, ["content_hash"], 4,
        )
        with pytest.raises(ValueError, match="stale registration"):
            read_store(spark, str(tmp_path / "elsewhere"), table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_rewrite_bucketed_store_compaction_lifecycle(spark, tmp_path):
    """The table store's full lifecycle: sink batches append one file set
    per bucket per batch; rewrite_bucketed_store collapses the history
    UNDER THE SAME bucket identity, re-registers the table, and the next
    sink batch still dedupes against it with the bucketed plan."""
    import json as _json
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
        incremental_dedupe_sink,
        rewrite_bucketed_store,
    )

    table = f"lifec_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "lc_in"
    src.mkdir()
    out = str(tmp_path / "lc_out")
    store = str(tmp_path / "lc_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"lc_ck{runs[0]}"),
            "text", "doc_id", store_table=table, store_buckets=4,
        ).awaitTermination()

    try:
        (src / "b1.json").write_text(
            "\n".join(doc(i, f"body number {i}") for i in range(20))
        )
        run()
        (src / "b2.json").write_text(
            "\n".join(doc(i, f"body number {i}") for i in range(20, 40))
        )
        run()
        import glob as _glob

        files_before = len(_glob.glob(f"{store}/*.parquet"))
        # two appends x 4 buckets: the history holds one file set per
        # bucket per batch; compaction collapses it to one per bucket
        assert files_before > 4
        # exact-store compaction is file consolidation (rows disjoint)
        n = rewrite_bucketed_store(
            spark, table, store, spark.table(table)
        )
        assert n == 40
        files_after = len(_glob.glob(f"{store}/*.parquet"))
        assert files_after <= 4 < files_before
        # identity preserved through the swap
        spec = read_bucket_spec(store)
        assert spec["bucket_cols"] == ["content_hash"]
        assert spec["n_buckets"] == 4
        # the compacted store still serves the zero-Exchange probe (a
        # bare scan reports Bucketed:false by design — autoBucketedScan
        # only engages the layout when a join exploits it)
        st = read_store(spark, store, table)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            probe = spark.range(10).selectExpr(
                "id AS content_hash"
            ).join(st, "content_hash", "left_anti")
            plan = probe._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            assert "Bucketed: true" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # ...and the cross-run dedup memory survived compaction
        (src / "b3.json").write_text(
            doc(100, "body number 7")  # re-crawl of doc 7's content
            + "\n" + doc(101, "a genuinely new body")
        )
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == list(range(40)) + [101]
        assert spark.table(table).count() == 41

        # a frame that lost the bucket column is refused
        with pytest.raises(ValueError, match="bucket column"):
            rewrite_bucketed_store(
                spark, table, store,
                spark.table(table).selectExpr(
                    "content_hash AS other"
                ),
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_sink_refuses_temp_view_and_plain_append_poisoning(spark, tmp_path):
    """Review-finding guards: (1) a temp view shadowing store_table is
    refused — spark.table() would resolve the view and silently dedupe
    against its rows; (2) a flag-less run against a bucketed table dir
    refuses the plain parquet append that would poison the bucket
    layout (Spark's own failure is a later, opaque 'Invalid bucket
    file')."""
    import json as _json
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
        read_store,
    )

    view = f"shadow_{uuid.uuid4().hex[:8]}"
    spark.range(3).selectExpr(
        "id AS content_hash"
    ).createOrReplaceTempView(view)
    try:
        with pytest.raises(ValueError, match="view"):
            read_store(spark, str(tmp_path / "whatever"), view)
    finally:
        spark.catalog.dropTempView(view)

    table = f"poison_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "pz_in"
    src.mkdir()
    out = str(tmp_path / "pz_out")
    store = str(tmp_path / "pz_store")
    (src / "b1.json").write_text(
        _json.dumps({"doc_id": 1, "text": "first body"})
    )

    def run(k, **kw):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"pz_ck{k}"),
            "text", "doc_id", **kw,
        )
        q.awaitTermination()

    try:
        run(1, store_table=table, store_buckets=4)
        (src / "b2.json").write_text(
            _json.dumps({"doc_id": 2, "text": "second body"})
        )
        # restarted stream whose config LOST store_table: refused before
        # any plain part file lands between the bucketed ones
        with pytest.raises(Exception, match="poison its bucket layout"):
            run(2)
        # the store is intact and the correctly-configured stream resumes
        run(3, store_table=table, store_buckets=4)
        assert spark.table(table).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_simhash_sink_bucketed_store_table(spark, tmp_path):
    """mode='simhash' + store_table rides the KEY-INDEX store: near-dup
    re-crawls streamed in later runs are dropped against the carried
    (combo, key) table, the combo-split identity sidecar refuses a
    mismatched probe, and the cross-session resume path works."""
    import json as _json
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    table = f"sh_idx_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "sh_in"
    src.mkdir()
    out = str(tmp_path / "sh_out")
    store = str(tmp_path / "sh_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    runs = [0]

    def run(**kw):
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"sh_ck{runs[0]}"),
            "text", "doc_id", mode="simhash", store_table=table,
            store_buckets=8, **kw,
        )
        q.awaitTermination()

    try:
        (src / "b1.json").write_text(doc(1, base))
        run()
        assert read_bucket_spec(store)["bucket_cols"] == ["combo", "key"]
        # restart: catalog lost, sidecars survive
        spark.sql(f"DROP TABLE {table}")
        (src / "b2.json").write_text(
            doc(10, base.replace("afternoon", "evening"))  # near re-crawl
            + "\n"
            + doc(11, "completely unrelated content about distributed "
                      "query engines partitioning shuffle exchanges")
        )
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 11]  # 10 dropped against the carried index
        assert spark.table(table).count() == 2 * 20  # 20 combos per doc

        # combo-split identity: probing at a different split refuses
        (src / "b3.json").write_text(doc(30, "whatever new text body"))
        with pytest.raises(Exception, match="not comparable"):
            run(n_blocks=5)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_hamming_index_identity_matches_operator_defaults():
    """HAMMING_INDEX_IDENTITY is the ONE place the combo-split defaults
    live for the validate-and-stamp gate; if an operator signature's
    default drifts from it, the sidecar would certify a split the probe
    didn't use — the exact silent near-dup miss the sidecar exists to
    prevent (review finding r12).  No Spark session needed."""
    import inspect

    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_simhash_dedupe_indexed,
    )
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_audio_dedupe_indexed,
        incremental_phash_dedupe_indexed,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        HAMMING_INDEX_IDENTITY,
    )

    def defaults(fn, *names):
        ps = inspect.signature(fn).parameters
        return {n: ps[n].default for n in names}

    assert HAMMING_INDEX_IDENTITY["simhash"] == defaults(
        incremental_simhash_dedupe_indexed,
        "nbits", "max_hamming", "n_blocks",
    )
    assert HAMMING_INDEX_IDENTITY["phash"] == {
        "nbits": 63,  # fixed inside the perceptual core
        **defaults(
            incremental_phash_dedupe_indexed, "max_hamming", "n_blocks"
        ),
    }
    assert HAMMING_INDEX_IDENTITY["audio"] == {
        "nbits": 63,
        **defaults(
            incremental_audio_dedupe_indexed, "max_hamming", "n_blocks"
        ),
    }
    # remux is fixed by construction (full hash, one combo)
    assert HAMMING_INDEX_IDENTITY["remux"] == {
        "nbits": 63, "max_hamming": 0, "n_blocks": 1,
    }


def test_compact_preserves_key_index_sidecar(spark, tmp_path):
    """`compact --table` on a hamming KEY-INDEX store must carry the
    `_simhash_index_meta.json` identity sidecar through the dir swap:
    write_bucketed_store recreates only `_bucket_spec.json`, so without
    the sidecar copy the next batch/refresh refuses with the misleading
    'classic store must be MIGRATED' message and the store is stranded
    (ADVICE r13 medium)."""
    import json as _json
    import uuid

    from evidence_datasource_parsers_spark.operators.dedupe import (
        read_simhash_index_meta,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
        rewrite_bucketed_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    table = f"kidx_cp_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "kc_in"
    src.mkdir()
    out = str(tmp_path / "kc_out")
    store = str(tmp_path / "kc_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"kc_ck{runs[0]}"),
            "text", "doc_id", mode="simhash", store_table=table,
            store_buckets=4,
        ).awaitTermination()

    try:
        (src / "b1.json").write_text(doc(1, base))
        run()
        ident = read_simhash_index_meta(store)
        assert ident == {"nbits": 32, "max_hamming": 3, "n_blocks": 6}
        n = rewrite_bucketed_store(spark, table, store, spark.table(table))
        assert n == 20  # 20 combos for the one stored doc
        # the swap must NOT have dropped the combo-split identity
        assert read_simhash_index_meta(store) == ident
        # ...and the compacted store still serves the near-dup probe
        (src / "b2.json").write_text(
            doc(10, base.replace("afternoon", "evening"))
            + "\n"
            + doc(11, "completely unrelated content about distributed "
                      "query engines partitioning shuffle exchanges")
        )
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 11]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_first_batch_table_create_is_atomic(spark, tmp_path):
    """The table store's FIRST batch is all-or-nothing: the identity
    sidecars are stamped inside the `__swap_*` tmp dir before the one
    rename that makes the store visible, so no crash can leave a store
    whose combo split is unrecorded (ADVICE r13 low).  An orphaned tmp
    from a crashed first batch is swept by recover_store_dir."""
    import json as _json
    import os
    import uuid

    from evidence_datasource_parsers_spark.operators.dedupe import (
        read_simhash_index_meta,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
        recover_store_dir,
    )

    table = f"atom_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "at_in"
    src.mkdir()
    out = str(tmp_path / "at_out")
    store = str(tmp_path / "at_store")

    # a first batch that crashed before its rename leaves only a tmp
    # sibling — recover_store_dir treats it as uncommitted garbage
    orphan = f"{store}__swap_deadbeef"
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("x")
    assert recover_store_dir(store) is False
    assert not os.path.isdir(orphan)
    assert not os.path.isdir(store)

    (src / "b1.json").write_text(
        _json.dumps({"doc_id": 1, "text": "first ever body"})
    )
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        incremental_dedupe_sink(
            stream, out, store, str(tmp_path / "at_ck"),
            "text", "doc_id", mode="simhash", store_table=table,
            store_buckets=4,
        ).awaitTermination()
        # the store appeared complete: bucket spec AND combo-split
        # sidecar both present, no leftover tmp siblings
        assert read_bucket_spec(store)["bucket_cols"] == ["combo", "key"]
        assert read_simhash_index_meta(store) is not None
        parent = os.path.dirname(store)
        assert not [
            d for d in os.listdir(parent)
            if d.startswith(os.path.basename(store) + "__")
        ]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_binding_memo_invalidated_on_reregister(spark, tmp_path):
    """The validated-binding memo must not outlive the binding it
    certified: after the library drops + re-registers a table at a
    DIFFERENT directory, read_store against the OLD directory must
    refuse (a stale memo would let it silently probe the new dir's
    files — ADVICE r13 low)."""
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.sources.sinks import (
        register_bucketed_store,
        write_bucketed_store,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
    )

    table = f"memo_{uuid.uuid4().hex[:8]}"
    dir_a = str(tmp_path / "memo_a")
    dir_b = str(tmp_path / "memo_b")
    try:
        write_bucketed_store(
            spark.range(5).selectExpr("id AS content_hash"),
            dir_a, table, ["content_hash"], 2,
        )
        # validate (and memoize) the (table, dir_a) binding
        assert read_store(spark, dir_a, table).count() == 5
        # library-controlled re-register at a DIFFERENT directory
        write_bucketed_store(
            spark.range(7).selectExpr("id AS content_hash"),
            dir_b, f"{table}_b", ["content_hash"], 2,
        )
        spark.sql(f"DROP TABLE {table}")
        register_bucketed_store(spark, table, dir_b)
        # the old binding is gone — a stale memo would return dir_b's
        # rows for a dir_a read; the guard must refuse instead
        with pytest.raises(ValueError, match="points at"):
            read_store(spark, dir_a, table)
        assert read_store(spark, dir_b, table).count() == 7
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_b")


def test_streaming_membership_sink_store_table(spark, tmp_path):
    """Table-backed Bloom counter sink (VERDICT r12 item 5): batches
    append into a bucketed (group, word) table; the probe reads the
    carried table; a catalog-losing restart re-registers from the
    sidecar; replays are absorbed by the OR-merge alone."""
    import json as _json
    import uuid

    from evidence_datasource_parsers_spark.operators.sketches import (
        bloom_member,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
        streaming_membership_sink,
    )

    table = f"bloom_sink_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "bl_in"
    src.mkdir()
    store = str(tmp_path / "bl_store")
    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("g string, url string")
            .json(str(src))
        )
        streaming_membership_sink(
            stream, store, str(tmp_path / f"bl_ck{runs[0]}"),
            ["g"], "url", k=4, m_bits=1 << 16,
            store_table=table, store_buckets=4,
        ).awaitTermination()

    def member(url):
        items = spark.createDataFrame([("g0", url)], "g string, url string")
        return bloom_member(
            read_store(spark, store, table), items, ["g"], "url",
            4, 1 << 16,
        ).collect()[0]["maybe_member"]

    try:
        (src / "b1.json").write_text(
            "\n".join(
                _json.dumps({"g": "g0", "url": f"u{i}"}) for i in range(200)
            )
        )
        run()
        assert read_bucket_spec(store)["bucket_cols"] == ["g", "__w"]
        assert member("u5") is True
        # restart: catalog lost; replay of b1 (fresh checkpoint) + new
        # batch — the OR-merge absorbs the replayed words
        spark.sql(f"DROP TABLE {table}")
        (src / "b2.json").write_text(
            _json.dumps({"g": "g0", "url": "brand-new-url"})
        )
        run()
        assert member("u5") is True
        assert member("brand-new-url") is True
        assert member("never-ingested-url-zzz") is False
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_streaming_distinct_count_sink_store_table(spark, tmp_path):
    """Table-backed HLL counter sink: same lifecycle, estimates track
    the union across runs without replay inflation."""
    import json as _json
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.operators.sketches import (
        sketch_store_estimates,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
        streaming_distinct_count_sink,
    )

    table = f"hll_sink_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "hl_in"
    src.mkdir()
    store = str(tmp_path / "hl_store")
    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("domain string, url string")
            .json(str(src))
        )
        streaming_distinct_count_sink(
            stream, store, str(tmp_path / f"hl_ck{runs[0]}"),
            ["domain"], "url", store_table=table, store_buckets=4,
        ).awaitTermination()

    def probe():
        return {
            r.domain: r.approx_distinct
            for r in sketch_store_estimates(
                read_store(spark, store, table), ["domain"]
            ).collect()
        }

    try:
        (src / "b1.json").write_text(
            "\n".join(
                _json.dumps({"domain": "a", "url": f"u{i}"})
                for i in range(100)
            )
        )
        run()
        assert probe()["a"] == pytest.approx(100, rel=0.05)
        spark.sql(f"DROP TABLE {table}")  # restart
        (src / "b2.json").write_text(
            "\n".join(
                _json.dumps({"domain": "a", "url": f"u{i}"})
                for i in range(100, 150)
            )
        )
        run()
        est = probe()
        assert est["a"] == pytest.approx(150, rel=0.05)
        assert est["a"] < 220  # replay did NOT double-count
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_streaming_histogram_and_frequency_sinks(spark, tmp_path):
    """The histogram and CMS counter stores get the same streaming
    maintenance as the HLL sink: each run appends the batch's own
    mergeable rows, and the collapsing probes read the accumulated
    history exactly."""
    import json as _json

    from evidence_datasource_parsers_spark.operators.sketches import (
        cms_estimate,
        compact_histogram_store,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        streaming_frequency_sink,
        streaming_histogram_sink,
    )

    src = tmp_path / "vals_in"
    src.mkdir()
    hstore = str(tmp_path / "hist_store")
    cstore = str(tmp_path / "cms_store")
    edges = [10.0, 20.0]

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(
                _json.dumps({"g": "a", "v": v, "tok": t}) for v, t in rows
            )
        )

    def run():
        # REUSED checkpoint dirs: run 2 processes only the new file —
        # the cross-run incremental behavior under test
        stream = spark.readStream.schema(
            "g string, v double, tok string"
        ).json(str(src))
        streaming_histogram_sink(
            stream, hstore, str(tmp_path / "ckh"), ["g"], "v", edges
        ).awaitTermination()
        stream2 = spark.readStream.schema(
            "g string, v double, tok string"
        ).json(str(src))
        streaming_frequency_sink(
            stream2, cstore, str(tmp_path / "ckc"), ["g"], "tok"
        ).awaitTermination()

    write_batch("b1.json", [(5.0, "x"), (15.0, "x"), (25.0, "y")])
    run()
    write_batch("b2.json", [(15.0, "x"), (15.0, "z")])
    run()

    hist = {
        r["g"]: r["counts"]
        for r in compact_histogram_store(
            spark.read.parquet(hstore), ["g"]
        ).collect()
    }
    assert hist["a"] == [1, 3, 1]  # 5 | 15,15,15 | 25
    items = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("a", "z"), ("a", "w")],
        "g string, tok string",
    )
    est = {
        r.tok: r.est_count
        for r in cms_estimate(
            spark.read.parquet(cstore), items, ["g"], "tok"
        ).collect()
    }
    assert est == {"x": 3, "y": 1, "z": 1, "w": 0}
    # append-only history: run 2 added rows beside run 1's
    assert spark.read.parquet(hstore).count() == 2  # one counts row/run


def test_counter_sink_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch replay (crash between the append and the checkpoint
    commit) must NOT double-count: each batch lands as one
    deterministically named file that a replay overwrites
    (write_batch_summary, the primitive under all three counter sinks)."""
    import os

    from evidence_datasource_parsers_spark.operators.sketches import (
        compact_histogram_store,
        histogram_store,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        write_batch_summary,
    )

    store = str(tmp_path / "hstore")
    batch = spark.createDataFrame(
        [("a", 5.0), ("a", 15.0)], "g string, v double"
    )
    summary = histogram_store(batch, ["g"], "v", [10.0, 20.0])
    write_batch_summary(summary, store, "tok1", 0)
    write_batch_summary(summary, store, "tok1", 0)  # replay of batch 0
    hist = {
        r["g"]: r["counts"]
        for r in compact_histogram_store(
            spark.read.parquet(store), ["g"]
        ).collect()
    }
    assert hist["a"] == [1, 1, 0]  # counted once, not twice
    # a genuinely NEW batch (same stream) adds; a different stream's
    # batch 0 does not clobber this stream's batch 0
    write_batch_summary(summary, store, "tok1", 1)
    write_batch_summary(summary, store, "tok2", 0)
    hist = {
        r["g"]: r["counts"]
        for r in compact_histogram_store(
            spark.read.parquet(store), ["g"]
        ).collect()
    }
    assert hist["a"] == [3, 3, 0]
    names = sorted(os.listdir(store))
    assert names == [
        "batch-tok1-0.parquet", "batch-tok1-1.parquet",
        "batch-tok2-0.parquet",
    ]


def test_streaming_sample_sink(spark, tmp_path):
    """The bottom-k sink appends each batch's sample beside the history
    and sample_quantiles re-reduces it raw — same cross-run incremental
    contract as the other counter sinks."""
    import json as _json

    from evidence_datasource_parsers_spark.operators.sketches import (
        sample_quantiles,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        streaming_sample_sink,
    )

    src = tmp_path / "bk_in"
    src.mkdir()
    store = str(tmp_path / "bk_store")

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(
                _json.dumps({"g": "a", "id": i, "v": v}) for i, v in rows
            )
        )

    def run():
        stream = spark.readStream.schema(
            "g string, id long, v double"
        ).json(str(src))
        streaming_sample_sink(
            stream, store, str(tmp_path / "ckbk"), ["g"], "id", "v", k=64
        ).awaitTermination()

    write_batch("b1.json", [(i, float(i)) for i in range(100)])
    run()
    write_batch("b2.json", [(100 + i, float(100 + i)) for i in range(100)])
    run()
    got = sample_quantiles(
        spark.read.parquet(store), ["g"], [0.5], k=64, out_cols=["p50"]
    ).collect()[0]
    # uniform 0..199 → sample median within rank error of 100
    assert 40 <= got["p50"] <= 160
    # two appended batch files (one deterministic file per batch)
    import os

    assert len([f for f in os.listdir(store) if f.endswith(".parquet")]) == 2
    # the sink stamped k as store identity; a differently-configured
    # later run is refused before touching the store
    from evidence_datasource_parsers_spark.operators.sketches import (
        read_bottomk_store_meta,
    )

    import pytest as _pytest

    assert read_bottomk_store_meta(store) == 64
    write_batch("b3.json", [(999, 1.0)])
    stream3 = spark.readStream.schema("g string, id long, v double").json(
        str(src)
    )
    q3 = streaming_sample_sink(
        stream3, store, str(tmp_path / "ckbk_conflict"),
        ["g"], "id", "v", k=128,
    )
    with _pytest.raises(Exception, match="k="):
        q3.awaitTermination()
    assert read_bottomk_store_meta(store) == 64
    # stamp-first self-heal: a sidecar-only dir (crash between the stamp
    # and the first append) is accepted by a matching re-run, not wedged
    from evidence_datasource_parsers_spark.operators.sketches import (
        write_bottomk_store_meta,
    )

    healed = str(tmp_path / "bk_store_healed")
    write_bottomk_store_meta(healed, 64)  # sidecar-only dir
    stream4 = spark.readStream.schema("g string, id long, v double").json(
        str(src)
    )
    streaming_sample_sink(
        stream4, healed, str(tmp_path / "ckbk_heal"), ["g"], "id", "v",
        k=64,
    ).awaitTermination()
    assert spark.read.parquet(healed).count() > 0


def test_incremental_dedupe_sink_canon_mode(spark, tmp_path):
    """mode='canon': every streamed doc is appended ENRICHED with
    canonical_id/canonical; batch-2 labels converge on batch-1
    representatives; a full replay advances the store by NOTHING (all
    replayed labels map to stored reps, so the delta is empty); a
    mismatched max_dist is refused via the identity sidecar."""
    import json as _json

    import pytest as _pytest

    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        read_canon_store_meta,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    src = tmp_path / "canon_in"
    src.mkdir()
    out = str(tmp_path / "canon_out")
    store = str(tmp_path / "canon_store")

    def doc(i, label):
        return _json.dumps({"doc_id": i, "label": label})

    def run(ckpt, **opts):
        stream = (
            spark.readStream.schema("doc_id long, label string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / ckpt),
            "label", "doc_id", mode="canon", **opts,
        )
        q.awaitTermination()

    (src / "b1.json").write_text(
        doc(1, "colour") + "\n" + doc(2, "color")
    )
    run("ck_shared", max_dist=1)
    rows = {r.doc_id: (r.canonical_id, r.canonical)
            for r in spark.read.parquet(out).collect()}
    assert rows == {1: (1, "colour"), 2: (1, "colour")}
    # store carries k+1=2 segment rows for the single elected rep
    st = spark.read.parquet(store).collect()
    assert {(r.canonical_id, r.canonical) for r in st} == {(1, "colour")}
    assert len(st) == 2
    assert read_canon_store_meta(store) == 1

    # batch 2 (same checkpoint → only the new file): near-re-crawl
    # converges on the STORED rep; a new label elects a new one
    (src / "b2.json").write_text(
        doc(10, "colouur") + "\n" + doc(11, "brand new")
    )
    run("ck_shared", max_dist=1)
    rows = {r.doc_id: (r.canonical_id, r.canonical)
            for r in spark.read.parquet(out).collect()}
    assert rows[10] == (1, "colour")
    assert rows[11] == (11, "brand new")
    assert set(rows) == {1, 2, 10, 11}
    st = spark.read.parquet(store).collect()
    assert {(r.canonical_id, r.canonical) for r in st} == {
        (1, "colour"), (11, "brand new")
    }
    assert len(st) == 4

    # full replay (fresh checkpoint re-reads every file): all four docs
    # map to stored reps, the delta is empty, the store does NOT grow —
    # store-advance idempotence under replay
    run("ck_replay", max_dist=1)
    st2 = spark.read.parquet(store).collect()
    assert len(st2) == 4
    replayed = [
        (r.doc_id, r.canonical_id)
        for r in spark.read.parquet(out).collect()
    ]
    assert sorted(replayed) == sorted(
        [(1, 1), (2, 1), (10, 1), (11, 11)] * 2
    )

    # identity: a run at a different k is refused before touching the store
    (src / "b3.json").write_text(doc(20, "whatever"))
    stream_bad = (
        spark.readStream.schema("doc_id long, label string")
        .json(str(src))
    )
    q_bad = incremental_dedupe_sink(
        stream_bad, out, store, str(tmp_path / "ck_bad"),
        "label", "doc_id", mode="canon", max_dist=2,
    )
    with _pytest.raises(Exception, match="max_dist"):
        q_bad.awaitTermination()
    assert read_canon_store_meta(store) == 1
    assert spark.read.parquet(store).count() == 4
    # a legacy sidecar-less store is ambiguous — refused, not adopted
    legacy = str(tmp_path / "canon_store_legacy")
    spark.read.parquet(store).write.parquet(legacy)
    stream_leg = (
        spark.readStream.schema("doc_id long, label string")
        .json(str(src))
    )
    q_leg = incremental_dedupe_sink(
        stream_leg, out, legacy, str(tmp_path / "ck_leg"),
        "label", "doc_id", mode="canon", max_dist=1,
    )
    with _pytest.raises(Exception, match="_canon_store_meta"):
        q_leg.awaitTermination()


def test_incremental_dedupe_sink_bucketed_store_table(spark, tmp_path):
    """store_table: the sink carries the exact-hash store as a BUCKETED
    catalog table — round-12 closure of the O(store)-shuffle-per-batch
    weak.  Semantics must be identical to the plain-dir sink (re-ingests
    dropped across runs), the table must exist with its sidecar, and a
    RESTARTED stream (simulated by dropping the in-memory catalog entry)
    must re-register from the sidecar instead of degrading."""
    import json as _json
    import uuid

    from evidence_datasource_parsers_spark.sources.sinks import (
        BUCKET_SPEC_FILE,
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    table = f"sink_store_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "bt_in"
    src.mkdir()
    out = str(tmp_path / "bt_out")
    store = str(tmp_path / "bt_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    (src / "b1.json").write_text(
        doc(1, "the first document body") + "\n" + doc(2, "another body")
    )

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"bt_ck{runs[0]}"),
            "text", "doc_id", store_table=table, store_buckets=8,
        )
        q.awaitTermination()

    try:
        run()
        assert sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        ) == [1, 2]
        # the store is a real bucketed table with its durable sidecar
        assert spark.catalog.tableExists(table)
        spec = read_bucket_spec(store)
        assert spec == {
            "bucket_cols": ["content_hash"],
            "n_buckets": 8,
            "schema": "`content_hash` bigint",
        }, spec
        assert (tmp_path / "bt_store" / BUCKET_SPEC_FILE).is_file()

        # restart: a new session's in-memory catalog would be empty — the
        # sidecar re-registration path must restore the table, and the
        # cross-run dedup memory with it
        spark.sql(f"DROP TABLE {table}")
        (src / "b2.json").write_text(
            doc(10, "the first document body")  # re-crawl of doc 1
            + "\n"
            + doc(11, "a genuinely new document")
        )
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 2, 11]
        assert spark.catalog.tableExists(table)  # re-registered
        assert spark.table(table).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_lsh_sink_bucketed_store_table(spark, tmp_path):
    """mode='lsh' through the bucketed table path: the non-trivial store
    schema (band/key/sig array/content_hash/id) survives the bucketed
    write+append round-trip and near-dup re-crawls are still dropped."""
    import json as _json
    import uuid

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    recrawl = base.replace("afternoon", "evening")
    novel = (
        "completely unrelated content about distributed query engines "
        "partitioning shuffle exchanges and adaptive execution plans"
    )
    table = f"sink_lsh_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "btl_in"
    src.mkdir()
    out = str(tmp_path / "btl_out")
    store = str(tmp_path / "btl_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    (src / "b1.json").write_text(doc(1, base))
    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"btl_ck{runs[0]}"),
            "text", "doc_id", mode="lsh", shingle_mode="word", k=3,
            store_table=table, store_buckets=8,
        )
        q.awaitTermination()

    try:
        run()
        (src / "b2.json").write_text(doc(10, recrawl) + "\n" + doc(11, novel))
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 11]
        assert {
            r.doc_id for r in spark.table(table).collect()
        } == {1, 11}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_sink_store_table_guards(spark, tmp_path):
    """The three refusal paths: a derived-key mode cannot take
    store_table; a plain-parquet dir (no sidecar) cannot be declared
    bucketed; a catalog name already bound to a DIFFERENT directory is a
    stale registration, not a store."""
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.sources.sinks import (
        write_bucketed_store,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
        incremental_dedupe_sink,
    )

    never = tmp_path / "never_read"
    never.mkdir()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(never))
    )
    with pytest.raises(ValueError, match="derives its probe-join keys"):
        incremental_dedupe_sink(
            stream, "o", "s", "c", "text", "doc_id",
            mode="video", store_table="nope",
        )

    # plain-parquet dir: refusing to lie to the planner
    plain = tmp_path / "plain_store"
    spark.range(3).selectExpr("id AS content_hash").write.parquet(str(plain))
    with pytest.raises(ValueError, match="_bucket_spec.json"):
        read_store(spark, str(plain), f"t_{uuid.uuid4().hex[:8]}")

    # stale catalog entry pointing elsewhere
    table = f"stale_{uuid.uuid4().hex[:8]}"
    other = tmp_path / "other_store"
    try:
        write_bucketed_store(
            spark.range(3).selectExpr("id AS content_hash"),
            str(other), table, ["content_hash"], 4,
        )
        with pytest.raises(ValueError, match="stale registration"):
            read_store(spark, str(tmp_path / "elsewhere"), table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_rewrite_bucketed_store_compaction_lifecycle(spark, tmp_path):
    """The table store's full lifecycle: sink batches append one file set
    per bucket per batch; rewrite_bucketed_store collapses the history
    UNDER THE SAME bucket identity, re-registers the table, and the next
    sink batch still dedupes against it with the bucketed plan."""
    import json as _json
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
        incremental_dedupe_sink,
        rewrite_bucketed_store,
    )

    table = f"lifec_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "lc_in"
    src.mkdir()
    out = str(tmp_path / "lc_out")
    store = str(tmp_path / "lc_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"lc_ck{runs[0]}"),
            "text", "doc_id", store_table=table, store_buckets=4,
        ).awaitTermination()

    try:
        (src / "b1.json").write_text(
            "\n".join(doc(i, f"body number {i}") for i in range(20))
        )
        run()
        (src / "b2.json").write_text(
            "\n".join(doc(i, f"body number {i}") for i in range(20, 40))
        )
        run()
        import glob as _glob

        files_before = len(_glob.glob(f"{store}/*.parquet"))
        # two appends x 4 buckets: the history holds one file set per
        # bucket per batch; compaction collapses it to one per bucket
        assert files_before > 4
        # exact-store compaction is file consolidation (rows disjoint)
        n = rewrite_bucketed_store(
            spark, table, store, spark.table(table)
        )
        assert n == 40
        files_after = len(_glob.glob(f"{store}/*.parquet"))
        assert files_after <= 4 < files_before
        # identity preserved through the swap
        spec = read_bucket_spec(store)
        assert spec["bucket_cols"] == ["content_hash"]
        assert spec["n_buckets"] == 4
        # the compacted store still serves the zero-Exchange probe (a
        # bare scan reports Bucketed:false by design — autoBucketedScan
        # only engages the layout when a join exploits it)
        st = read_store(spark, store, table)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            probe = spark.range(10).selectExpr(
                "id AS content_hash"
            ).join(st, "content_hash", "left_anti")
            plan = probe._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            assert "Bucketed: true" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # ...and the cross-run dedup memory survived compaction
        (src / "b3.json").write_text(
            doc(100, "body number 7")  # re-crawl of doc 7's content
            + "\n" + doc(101, "a genuinely new body")
        )
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == list(range(40)) + [101]
        assert spark.table(table).count() == 41

        # a frame that lost the bucket column is refused
        with pytest.raises(ValueError, match="bucket column"):
            rewrite_bucketed_store(
                spark, table, store,
                spark.table(table).selectExpr(
                    "content_hash AS other"
                ),
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_sink_refuses_temp_view_and_plain_append_poisoning(spark, tmp_path):
    """Review-finding guards: (1) a temp view shadowing store_table is
    refused — spark.table() would resolve the view and silently dedupe
    against its rows; (2) a flag-less run against a bucketed table dir
    refuses the plain parquet append that would poison the bucket
    layout (Spark's own failure is a later, opaque 'Invalid bucket
    file')."""
    import json as _json
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
        read_store,
    )

    view = f"shadow_{uuid.uuid4().hex[:8]}"
    spark.range(3).selectExpr(
        "id AS content_hash"
    ).createOrReplaceTempView(view)
    try:
        with pytest.raises(ValueError, match="view"):
            read_store(spark, str(tmp_path / "whatever"), view)
    finally:
        spark.catalog.dropTempView(view)

    table = f"poison_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "pz_in"
    src.mkdir()
    out = str(tmp_path / "pz_out")
    store = str(tmp_path / "pz_store")
    (src / "b1.json").write_text(
        _json.dumps({"doc_id": 1, "text": "first body"})
    )

    def run(k, **kw):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"pz_ck{k}"),
            "text", "doc_id", **kw,
        )
        q.awaitTermination()

    try:
        run(1, store_table=table, store_buckets=4)
        (src / "b2.json").write_text(
            _json.dumps({"doc_id": 2, "text": "second body"})
        )
        # restarted stream whose config LOST store_table: refused before
        # any plain part file lands between the bucketed ones
        with pytest.raises(Exception, match="poison its bucket layout"):
            run(2)
        # the store is intact and the correctly-configured stream resumes
        run(3, store_table=table, store_buckets=4)
        assert spark.table(table).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_simhash_sink_bucketed_store_table(spark, tmp_path):
    """mode='simhash' + store_table rides the KEY-INDEX store: near-dup
    re-crawls streamed in later runs are dropped against the carried
    (combo, key) table, the combo-split identity sidecar refuses a
    mismatched probe, and the cross-session resume path works."""
    import json as _json
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    table = f"sh_idx_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "sh_in"
    src.mkdir()
    out = str(tmp_path / "sh_out")
    store = str(tmp_path / "sh_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    runs = [0]

    def run(**kw):
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        q = incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"sh_ck{runs[0]}"),
            "text", "doc_id", mode="simhash", store_table=table,
            store_buckets=8, **kw,
        )
        q.awaitTermination()

    try:
        (src / "b1.json").write_text(doc(1, base))
        run()
        assert read_bucket_spec(store)["bucket_cols"] == ["combo", "key"]
        # restart: catalog lost, sidecars survive
        spark.sql(f"DROP TABLE {table}")
        (src / "b2.json").write_text(
            doc(10, base.replace("afternoon", "evening"))  # near re-crawl
            + "\n"
            + doc(11, "completely unrelated content about distributed "
                      "query engines partitioning shuffle exchanges")
        )
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 11]  # 10 dropped against the carried index
        assert spark.table(table).count() == 2 * 20  # 20 combos per doc

        # combo-split identity: probing at a different split refuses
        (src / "b3.json").write_text(doc(30, "whatever new text body"))
        with pytest.raises(Exception, match="not comparable"):
            run(n_blocks=5)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_hamming_index_identity_matches_operator_defaults():
    """HAMMING_INDEX_IDENTITY is the ONE place the combo-split defaults
    live for the validate-and-stamp gate; if an operator signature's
    default drifts from it, the sidecar would certify a split the probe
    didn't use — the exact silent near-dup miss the sidecar exists to
    prevent (review finding r12).  No Spark session needed."""
    import inspect

    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_simhash_dedupe_indexed,
    )
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_audio_dedupe_indexed,
        incremental_phash_dedupe_indexed,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        HAMMING_INDEX_IDENTITY,
    )

    def defaults(fn, *names):
        ps = inspect.signature(fn).parameters
        return {n: ps[n].default for n in names}

    assert HAMMING_INDEX_IDENTITY["simhash"] == defaults(
        incremental_simhash_dedupe_indexed,
        "nbits", "max_hamming", "n_blocks",
    )
    assert HAMMING_INDEX_IDENTITY["phash"] == {
        "nbits": 63,  # fixed inside the perceptual core
        **defaults(
            incremental_phash_dedupe_indexed, "max_hamming", "n_blocks"
        ),
    }
    assert HAMMING_INDEX_IDENTITY["audio"] == {
        "nbits": 63,
        **defaults(
            incremental_audio_dedupe_indexed, "max_hamming", "n_blocks"
        ),
    }
    # remux is fixed by construction (full hash, one combo)
    assert HAMMING_INDEX_IDENTITY["remux"] == {
        "nbits": 63, "max_hamming": 0, "n_blocks": 1,
    }


def test_compact_preserves_key_index_sidecar(spark, tmp_path):
    """`compact --table` on a hamming KEY-INDEX store must carry the
    `_simhash_index_meta.json` identity sidecar through the dir swap:
    write_bucketed_store recreates only `_bucket_spec.json`, so without
    the sidecar copy the next batch/refresh refuses with the misleading
    'classic store must be MIGRATED' message and the store is stranded
    (ADVICE r13 medium)."""
    import json as _json
    import uuid

    from evidence_datasource_parsers_spark.operators.dedupe import (
        read_simhash_index_meta,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
        rewrite_bucketed_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    table = f"kidx_cp_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "kc_in"
    src.mkdir()
    out = str(tmp_path / "kc_out")
    store = str(tmp_path / "kc_store")

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text})

    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        incremental_dedupe_sink(
            stream, out, store, str(tmp_path / f"kc_ck{runs[0]}"),
            "text", "doc_id", mode="simhash", store_table=table,
            store_buckets=4,
        ).awaitTermination()

    try:
        (src / "b1.json").write_text(doc(1, base))
        run()
        ident = read_simhash_index_meta(store)
        assert ident == {"nbits": 32, "max_hamming": 3, "n_blocks": 6}
        n = rewrite_bucketed_store(spark, table, store, spark.table(table))
        assert n == 20  # 20 combos for the one stored doc
        # the swap must NOT have dropped the combo-split identity
        assert read_simhash_index_meta(store) == ident
        # ...and the compacted store still serves the near-dup probe
        (src / "b2.json").write_text(
            doc(10, base.replace("afternoon", "evening"))
            + "\n"
            + doc(11, "completely unrelated content about distributed "
                      "query engines partitioning shuffle exchanges")
        )
        run()
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 11]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_first_batch_table_create_is_atomic(spark, tmp_path):
    """The table store's FIRST batch is all-or-nothing: the identity
    sidecars are stamped inside the `__swap_*` tmp dir before the one
    rename that makes the store visible, so no crash can leave a store
    whose combo split is unrecorded (ADVICE r13 low).  An orphaned tmp
    from a crashed first batch is swept by recover_store_dir."""
    import json as _json
    import os
    import uuid

    from evidence_datasource_parsers_spark.operators.dedupe import (
        read_simhash_index_meta,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        incremental_dedupe_sink,
        recover_store_dir,
    )

    table = f"atom_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "at_in"
    src.mkdir()
    out = str(tmp_path / "at_out")
    store = str(tmp_path / "at_store")

    # a first batch that crashed before its rename leaves only a tmp
    # sibling — recover_store_dir treats it as uncommitted garbage
    orphan = f"{store}__swap_deadbeef"
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("x")
    assert recover_store_dir(store) is False
    assert not os.path.isdir(orphan)
    assert not os.path.isdir(store)

    (src / "b1.json").write_text(
        _json.dumps({"doc_id": 1, "text": "first ever body"})
    )
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        incremental_dedupe_sink(
            stream, out, store, str(tmp_path / "at_ck"),
            "text", "doc_id", mode="simhash", store_table=table,
            store_buckets=4,
        ).awaitTermination()
        # the store appeared complete: bucket spec AND combo-split
        # sidecar both present, no leftover tmp siblings
        assert read_bucket_spec(store)["bucket_cols"] == ["combo", "key"]
        assert read_simhash_index_meta(store) is not None
        parent = os.path.dirname(store)
        assert not [
            d for d in os.listdir(parent)
            if d.startswith(os.path.basename(store) + "__")
        ]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_binding_memo_invalidated_on_reregister(spark, tmp_path):
    """The validated-binding memo must not outlive the binding it
    certified: after the library drops + re-registers a table at a
    DIFFERENT directory, read_store against the OLD directory must
    refuse (a stale memo would let it silently probe the new dir's
    files — ADVICE r13 low)."""
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.sources.sinks import (
        register_bucketed_store,
        write_bucketed_store,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
    )

    table = f"memo_{uuid.uuid4().hex[:8]}"
    dir_a = str(tmp_path / "memo_a")
    dir_b = str(tmp_path / "memo_b")
    try:
        write_bucketed_store(
            spark.range(5).selectExpr("id AS content_hash"),
            dir_a, table, ["content_hash"], 2,
        )
        # validate (and memoize) the (table, dir_a) binding
        assert read_store(spark, dir_a, table).count() == 5
        # library-controlled re-register at a DIFFERENT directory
        write_bucketed_store(
            spark.range(7).selectExpr("id AS content_hash"),
            dir_b, f"{table}_b", ["content_hash"], 2,
        )
        spark.sql(f"DROP TABLE {table}")
        register_bucketed_store(spark, table, dir_b)
        # the old binding is gone — a stale memo would return dir_b's
        # rows for a dir_a read; the guard must refuse instead
        with pytest.raises(ValueError, match="points at"):
            read_store(spark, dir_a, table)
        assert read_store(spark, dir_b, table).count() == 7
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_b")


def test_streaming_membership_sink_store_table(spark, tmp_path):
    """Table-backed Bloom counter sink (VERDICT r12 item 5): batches
    append into a bucketed (group, word) table; the probe reads the
    carried table; a catalog-losing restart re-registers from the
    sidecar; replays are absorbed by the OR-merge alone."""
    import json as _json
    import uuid

    from evidence_datasource_parsers_spark.operators.sketches import (
        bloom_member,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
        streaming_membership_sink,
    )

    table = f"bloom_sink_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "bl_in"
    src.mkdir()
    store = str(tmp_path / "bl_store")
    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("g string, url string")
            .json(str(src))
        )
        streaming_membership_sink(
            stream, store, str(tmp_path / f"bl_ck{runs[0]}"),
            ["g"], "url", k=4, m_bits=1 << 16,
            store_table=table, store_buckets=4,
        ).awaitTermination()

    def member(url):
        items = spark.createDataFrame([("g0", url)], "g string, url string")
        return bloom_member(
            read_store(spark, store, table), items, ["g"], "url",
            4, 1 << 16,
        ).collect()[0]["maybe_member"]

    try:
        (src / "b1.json").write_text(
            "\n".join(
                _json.dumps({"g": "g0", "url": f"u{i}"}) for i in range(200)
            )
        )
        run()
        assert read_bucket_spec(store)["bucket_cols"] == ["g", "__w"]
        assert member("u5") is True
        # restart: catalog lost; replay of b1 (fresh checkpoint) + new
        # batch — the OR-merge absorbs the replayed words
        spark.sql(f"DROP TABLE {table}")
        (src / "b2.json").write_text(
            _json.dumps({"g": "g0", "url": "brand-new-url"})
        )
        run()
        assert member("u5") is True
        assert member("brand-new-url") is True
        assert member("never-ingested-url-zzz") is False
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_streaming_distinct_count_sink_store_table(spark, tmp_path):
    """Table-backed HLL counter sink: same lifecycle, estimates track
    the union across runs without replay inflation."""
    import json as _json
    import uuid

    import pytest

    from evidence_datasource_parsers_spark.operators.sketches import (
        sketch_store_estimates,
    )
    from evidence_datasource_parsers_spark.streaming.incremental import (
        read_store,
        streaming_distinct_count_sink,
    )

    table = f"hll_sink_{uuid.uuid4().hex[:8]}"
    src = tmp_path / "hl_in"
    src.mkdir()
    store = str(tmp_path / "hl_store")
    runs = [0]

    def run():
        runs[0] += 1
        stream = (
            spark.readStream.schema("domain string, url string")
            .json(str(src))
        )
        streaming_distinct_count_sink(
            stream, store, str(tmp_path / f"hl_ck{runs[0]}"),
            ["domain"], "url", store_table=table, store_buckets=4,
        ).awaitTermination()

    def probe():
        return {
            r.domain: r.approx_distinct
            for r in sketch_store_estimates(
                read_store(spark, store, table), ["domain"]
            ).collect()
        }

    try:
        (src / "b1.json").write_text(
            "\n".join(
                _json.dumps({"domain": "a", "url": f"u{i}"})
                for i in range(100)
            )
        )
        run()
        assert probe()["a"] == pytest.approx(100, rel=0.05)
        spark.sql(f"DROP TABLE {table}")  # restart
        (src / "b2.json").write_text(
            "\n".join(
                _json.dumps({"domain": "a", "url": f"u{i}"})
                for i in range(100, 150)
            )
        )
        run()
        est = probe()
        assert est["a"] == pytest.approx(150, rel=0.05)
        assert est["a"] < 220  # replay did NOT double-count
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
