"""Atomic-mkdir build lock shared by the persisted-state stores
(ann_index, neardup_index, funnel_store — ADVICE r10: the r9 lock
landed only in ann_index while all three stores share the identical
hazard: two sessions sharing one warehouse can interleave
mode('overwrite') writes of a store's tables and corrupt the layout).

``mkdir`` is atomic on POSIX, works on any shared filesystem the
warehouse lives on, and needs no daemon — the same primitive Spark's
own FileStreamSink uses for its metadata log. The lock serializes
BUILDS only; probes/reads never take it. Meta commits are atomic
(store_meta), but a rebuild rewrites ``codes``/``bands``/key tables
in place before its meta commit, so a reader running beside a
rebuild can see the old meta over a half-rewritten table."""

from __future__ import annotations

import contextlib
import os
import time
from collections.abc import Iterator


@contextlib.contextmanager
def build_lock(path: str, *, timeout: float = 600.0) -> Iterator[None]:
    """Hold ``{path}.build.lock`` for the duration of a store (re)build.

    Blocks up to ``timeout`` seconds waiting for a concurrent builder,
    then raises loudly (a dead owner's lock must be removed by hand —
    silently stealing it would reintroduce the interleaved-write
    corruption the lock exists to prevent)."""
    lock = f"{path}.build.lock"
    os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.mkdir(lock)  # atomic on POSIX
            break
        except FileExistsError:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"build_lock: {lock} held for more than {timeout}s "
                    "— remove it if its owner died") from None
            time.sleep(0.25)
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.rmdir(lock)
