"""WebDataset-style tar-shard I/O — the de-facto container for
large-scale (multi)modal training data.

A WebDataset corpus is a directory of ``.tar`` shards; each sample is
the group of consecutive members sharing a basename key, distinguished
by extension (``000123.jpg`` + ``000123.txt`` + ``000123.json`` = one
sample).  Training loaders stream shards sequentially, so the WRITE
side must produce deterministic, evenly-sized shards — exactly what
``operators/sharding.assign_shards`` computes — and the READ side must
parallelize per shard, never per member.

Spark has no native tar source, so both directions run as Arrow-batched
kernels over stdlib ``tarfile``:

  * :func:`read_webdataset` — one input row per shard path (per-shard
    parallelism: a 100 TB corpus is ~10⁵ shards, far above any
    cluster's core count), each kernel streams its tar and yields
    ``(shard, key, ext, data)`` member rows.  No shuffle.
  * :func:`group_samples` — member rows → one row per sample with an
    ``ext → bytes`` map (one groupBy on the (shard, key) pair).
  * :func:`write_webdataset` — ``(shard, key)``-addressed binary
    columns → one ``.tar`` per shard via ``applyInPandas`` (each group
    IS a shard, so the tar is written where the data already sits),
    returning a manifest frame ``(shard, path, n_samples, n_bytes)``.
    Members are written key-sorted with fixed mtime/uid, so shard bytes
    are deterministic functions of their contents (re-runs produce
    byte-identical shards).

POSIX tar is append-only with 512-byte blocking — cheap to stream both
ways; compression is left to the filesystem/codec layer by default
(``compression='gz'`` wraps each shard in gzip for loaders that expect
``.tar.gz``).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_webdataset(
    spark: SparkSession,
    path: str,
    *,
    max_member_bytes: int = 1 << 30,
    suffix: str = ".tar",
) -> DataFrame:
    """Directory (or single file) of tar shards → one row per member:
    ``(shard, key, ext, data)``.  ``key`` is the basename up to the
    FIRST dot, ``ext`` everything after it (the WebDataset convention —
    ``a/b.seg.json`` → key ``a/b``, ext ``seg.json``).  Oversized
    members (> ``max_member_bytes``) and non-file entries are skipped.
    Parallelism is per shard; within a shard the tar streams
    sequentially (that is the format's contract)."""
    if os.path.isdir(path):
        shards = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(suffix) or f.endswith(suffix + ".gz")
        )
    elif os.path.exists(path):
        shards = [path]
    else:
        shards = []
    if not shards:
        raise ValueError(f"no {suffix} shards under {path!r}")
    pdf = spark.createDataFrame(
        [(s,) for s in shards], "shard_path string"
    ).repartition(min(len(shards), 256))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip
        import tarfile

        for b in batches:
            for shard_path in b["shard_path"]:
                rows = []
                opener = (
                    gzip.open(shard_path, "rb")
                    if str(shard_path).endswith(".gz")
                    else open(shard_path, "rb")
                )
                with opener as fh, tarfile.open(
                    fileobj=fh, mode="r|"
                ) as tar:
                    for m in tar:
                        if not m.isfile() or m.size > max_member_bytes:
                            continue
                        # key = path up to the FIRST dot of the BASENAME
                        # (directories may legitimately contain dots)
                        dirn, basen = os.path.split(m.name)
                        if "." in basen:
                            stem, ext = basen.split(".", 1)
                        else:
                            stem, ext = basen, ""
                        base = (
                            f"{dirn}/{stem}" if dirn else stem
                        )
                        f = tar.extractfile(m)
                        if f is None:
                            continue
                        rows.append(
                            (
                                os.path.basename(str(shard_path)),
                                base,
                                ext,
                                f.read(),
                            )
                        )
                yield pd.DataFrame(
                    rows, columns=["shard", "key", "ext", "data"]
                )

    return pdf.mapInPandas(
        kernel, "shard string, key string, ext string, data binary"
    )


def group_samples(members: DataFrame) -> DataFrame:
    """Member rows → one row per sample: ``(shard, key, parts)`` where
    ``parts`` maps ext → bytes.  One shuffle keyed on (shard, key);
    sample sizes bound the map, never shard sizes.

    Duplicate extensions within a sample (tar-append updates, repeated
    member names) keep the LAST sorted entry instead of detonating the
    whole job on ``DUPLICATED_MAP_KEY`` (Spark's default map-key policy
    is EXCEPTION): entries sort by (ext, data), so the survivor is the
    lexicographically greatest payload — deterministic across runs."""
    entries = F.array_sort(F.collect_list(F.struct("ext", "data")))
    deduped = F.filter(
        entries,
        lambda e, i: (i == F.size(entries) - 1)
        | (e["ext"] != F.element_at(entries, (i + 2).cast("int"))["ext"]),
    )
    return (
        members.groupBy("shard", "key")
        .agg(F.map_from_entries(deduped).alias("parts"))
    )


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    *,
    shard_col: str = "shard",
    key_col: str = "key",
    part_cols: dict[str, str] | None = None,
    compression: str | None = None,
) -> DataFrame:
    """``(shard, key)``-addressed samples → one deterministic ``.tar``
    per shard under ``out_dir``; returns the manifest frame
    ``(shard, path, n_samples, n_bytes)`` (an ACTION has not run yet —
    materialize the manifest to execute the write).

    ``part_cols`` maps column name → member extension (default: every
    binary column under its own name; string columns are utf-8
    encoded).  Members are emitted key-sorted with zeroed mtime/uid,
    so a shard's bytes are a pure function of its contents.

    Scale shape: one shuffle grouping rows by shard (exactly the layout
    ``assign_shards`` already computed — AQE coalesces empty groups);
    each kernel writes only its own shard's tar, so write parallelism
    equals shard count.  ``compression='gz'`` emits ``.tar.gz``.
    """
    if part_cols is None:
        part_cols = {
            f.name: f.name
            for f in df.schema.fields
            if f.dataType.simpleString() in ("binary", "string")
            and f.name not in (shard_col, key_col)
        }
    if not part_cols:
        raise ValueError("no part columns to write")
    os.makedirs(out_dir, exist_ok=True)
    cols = [shard_col, key_col, *part_cols.keys()]
    ext_of = dict(part_cols)
    gz = compression == "gz"

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import gzip
        import io
        import tarfile

        shard = str(pdf[shard_col].iloc[0])
        fname = f"{shard}.tar" + (".gz" if gz else "")
        path = os.path.join(out_dir, fname)
        tmp = path + ".tmp"
        pdf = pdf.sort_values(key_col, kind="mergesort")
        raw = io.BytesIO()
        with tarfile.open(fileobj=raw, mode="w") as tar:
            for _, row in pdf.iterrows():
                for col, ext in ext_of.items():
                    val = row[col]
                    if val is None:
                        continue
                    data = (
                        val.encode("utf-8")
                        if isinstance(val, str)
                        else bytes(val)
                    )
                    info = tarfile.TarInfo(f"{row[key_col]}.{ext}")
                    info.size = len(data)
                    info.mtime = 0  # determinism: bytes ≡ contents
                    tar.addfile(info, io.BytesIO(data))
        blob = raw.getvalue()
        if gz:
            blob = gzip.compress(blob, mtime=0)
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, path)  # atomic per shard
        return pd.DataFrame(
            {
                "shard": [shard],
                "path": [path],
                "n_samples": [len(pdf)],
                "n_bytes": [len(blob)],
            }
        )

    return (
        df.select(*cols)
        .groupBy(shard_col)
        .applyInPandas(
            write_shard,
            "shard string, path string, n_samples long, n_bytes long",
        )
    )
