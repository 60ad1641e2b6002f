"""Control state of the persisted stores (ann_index, neardup_index,
funnel_store) as small driver-side files, committed atomically: a
commit writes ``{dest}.tmp``, fsyncs it and ``os.replace``s it onto
``dest``, so a reader or a crash sees the old file or the new one,
never a partial one and never none. Each store's meta is one JSON
object at ``{path}/_meta.json`` (Spark's file listing skips ``_``)."""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from .store_lock import build_lock


def commit(dest: str, data: bytes) -> None:
    """Replace ``dest`` with ``data`` atomically and durably."""
    parent = os.path.dirname(dest)
    os.makedirs(parent, exist_ok=True)
    with open(f"{dest}.tmp", "wb") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(f"{dest}.tmp", dest)
    fd = os.open(parent, os.O_RDONLY)
    try:
        os.fsync(fd)  # make the rename itself durable
    finally:
        os.close(fd)


def write_meta(path: str, meta: dict) -> None:
    commit(f"{path}/_meta.json", json.dumps(meta, sort_keys=True).encode())


def require_meta(path: str) -> dict:
    """The store's meta; FileNotFoundError when the store is absent."""
    with open(f"{path}/_meta.json", encoding="utf-8") as f:
        return json.load(f)


def read_meta(path: str) -> dict | None:
    """The store's meta, or None when the store is absent (a store in
    the earlier parquet-meta layout has no meta file, so it reads as
    absent). A meta that exists but cannot be parsed raises."""
    try:
        return require_meta(path)
    except FileNotFoundError:
        return None


def reuse_or_build(path: str, fingerprint: str, build: Callable[[], dict],
                   *, lock_timeout: float) -> tuple[dict, bool]:
    """(meta, rebuilt): the store's meta if it records ``fingerprint``,
    else ``build()``'s under the store's build lock. The check re-runs
    once the lock is held, so a waiter that blocked behind a builder
    reuses what that builder wrote."""
    def fresh() -> dict | None:
        meta = read_meta(path)
        if meta is None or meta["source_fingerprint"] != fingerprint:
            return None
        return meta

    meta = fresh()
    if meta is None:
        with build_lock(path, timeout=lock_timeout):
            meta = fresh()
            if meta is None:
                return build(), True
    return meta, False
