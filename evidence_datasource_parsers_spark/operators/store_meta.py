"""Identity sidecars for on-disk stores.

Some store parameters are part of the store's IDENTITY — values the
counted/sampled rows were built under, where a mismatched read or
compaction silently corrupts the algebra (the span gram cap, the
bottom-k sample size).  Each such store records the parameter in an
underscore-prefixed JSON sidecar Spark's parquet listing ignores;
callers validate it before a probe or compaction and refuse mismatches.

Shared discipline:

* writes are ATOMIC (temp file + ``os.replace``) — a crash mid-write can
  never leave a truncated sidecar;
* a corrupt/unreadable sidecar reads as None (missing), which downstream
  consumers treat as a refusal-with-recovery-instructions — fail-safe;
* a conflicting existing value raises ``ValueError`` with the
  caller-supplied reason.
"""

from __future__ import annotations

import json
import os
import uuid


def read_store_identity(store_dir: str, filename: str, key: str) -> int | None:
    """The recorded identity value, or None when the sidecar is missing
    OR unreadable (corrupt = missing: downstream refusal is fail-safe
    and re-stamping repairs it)."""
    path = os.path.join(store_dir, filename)
    if not os.path.isfile(path):
        return None
    try:
        with open(path) as fh:
            return int(json.load(fh)[key])
    except (ValueError, KeyError, json.JSONDecodeError):
        return None


def write_store_identity(
    store_dir: str, filename: str, key: str, value: int, reason: str
) -> None:
    """Record ``value`` atomically; raises ``ValueError`` (with
    ``reason``) if a DIFFERENT value is already recorded."""
    existing = read_store_identity(store_dir, filename, key)
    if existing is not None and existing != int(value):
        raise ValueError(
            f"store {store_dir} records {key}={existing}; refusing to "
            f"advance/compact it with {key}={int(value)} — {reason}"
        )
    os.makedirs(store_dir, exist_ok=True)
    path = os.path.join(store_dir, filename)
    tmp = f"{path}.tmp{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump({key: int(value)}, fh)
    os.replace(tmp, path)
