"""Bounded session-scoped memo discipline (VERDICT r08 item 5).

The engine keeps several module-level memos keyed by
``(applicationId, …)`` — exact-top-k ground truth, corpus counts,
trained ANN models, checkpointed edge/pair frames. They exist so one
session computes each expensive artifact once; but a long-lived
driver cycling corpora (or a sweep over hundreds of registered
queries) grows them without bound. ``memo_put`` is the single
insert-with-eviction used by all of them:

* entries from OTHER applications evict first — their JVM session is
  usually stopped, so the value is dead weight (and a dead frame's
  ``unpersist`` is a harmless no-op);
* then oldest-inserted within the current app (Python dicts preserve
  insertion order), keeping the newest ``cap`` entries;
* an optional ``on_evict`` releases resources (``unpersist`` for
  persisted/checkpointed DataFrames); its failures are swallowed —
  eviction is hygiene, never an error path.

``on_evict`` fires only for CROSS-app evictions (ADVICE r9): a
same-app eviction may drop a localCheckpoint'd frame that an earlier
caller still holds — its lineage is truncated, so unpersisting the
blocks would make any later action on that held reference fail
rather than recompute. Same-app evictions therefore just drop the
memo reference; the ContextCleaner reclaims the blocks once the last
Python/JVM reference to the frame is garbage-collected, and a stopped
app's blocks die with its JVM either way.

``scratch_dir`` is the on-disk counterpart: the one owner of the
per-query scratch directories (streaming checkpoints, round-trip
sinks, rollup state, staged stream sources, the shared ELB geo
cache). Each call returns a new empty directory and removes the one
it last returned for the same ``(prefix, key)``, so a returned lazy
frame stays readable until the same query runs again with the same
key. All of them live under one per-process root, which an ``atexit``
hook removes when the process that created it exits.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading
from collections.abc import Callable


def memo_put(
    memo: dict,
    key: tuple,
    value,
    cap: int = 32,
    on_evict: Callable | None = None,
) -> None:
    """Insert ``memo[key] = value`` keeping at most ``cap`` entries.

    ``key`` must be a tuple whose first element identifies the Spark
    application (the convention every engine memo follows)."""
    # re-inserting an existing key must refresh its age, not leave it
    # in its old slot (it is now the most recently used entry)
    memo.pop(key, None)
    memo[key] = value
    if len(memo) <= cap:
        return
    app = key[0]
    stale = [
        k for k in memo
        if isinstance(k, tuple) and k and k[0] != app and k != key
    ]
    for k in stale:
        _evict(memo, k, on_evict)
        if len(memo) <= cap:
            return
    while len(memo) > cap:
        oldest = next(iter(memo))
        if oldest == key:  # never evict the entry just inserted
            break
        # same-app eviction: drop the reference WITHOUT on_evict — an
        # earlier caller may still hold the (lineage-truncated) frame
        # and unpersisting its blocks would break that reference
        # (ADVICE r9). ContextCleaner reclaims the blocks on GC.
        _evict(memo, oldest, None)


def _evict(memo: dict, key, on_evict: Callable | None) -> None:
    value = memo.pop(key)
    if on_evict is not None:
        try:
            on_evict(value)
        except Exception:
            pass


def unpersist_frame(df) -> None:
    """``on_evict`` for memos holding persisted/checkpointed frames."""
    df.unpersist()


class PersistSlot:
    """Release-at-next-call registry for intra-query persisted
    intermediates — ONE implementation of the ``_NARROW_PERSISTED``
    idiom instead of thirteen module-local copies (VERDICT r10 item 8).

    The pattern: a query persists a provably SMALL intermediate
    (steering aggregate, per-key rollup, top-k) consumed by several
    plan branches; it cannot unpersist before returning because the
    returned frame is lazy — the caller's action still needs the
    blocks. So the frames are registered here and released when the
    SAME query next runs: ``slot.release()`` at function entry,
    ``slot.hold(df, ...)`` after each persist. The footprint is
    bounded to one call's worth of small frames per query; a caller
    whose final action completes INSIDE the function may call
    ``release()`` again before returning to free them immediately.

    SINGLE-THREADED-SESSION ASSUMPTION (documented once, here, for
    every slot): the registry executes queries sequentially on one
    session. A concurrent call of the same query would release the
    other call's frames mid-flight — recompute-only, never a wrong
    answer, but it defeats the persist; key slots per query/thread if
    the engine ever drives these concurrently. Unpersisting a frame a
    stale handle still references only forces recompute."""

    __slots__ = ("_frames",)

    def __init__(self) -> None:
        self._frames: list = []

    def release(self) -> None:
        """Unpersist everything held by the previous call."""
        while self._frames:
            try:
                self._frames.pop().unpersist()
            except Exception:
                pass  # stopped session / already freed: hygiene only

    def hold(self, *frames) -> None:
        """Keep ``frames`` persisted until the next ``release()``."""
        self._frames.extend(frames)


_SCRATCH_LOCK = threading.Lock()
#: (pid, path) of the scratch root; a forked child makes its own
_scratch_root: tuple[int, str] | None = None
#: (prefix, key) -> the directory scratch_dir last returned for it
_scratch_last: dict[tuple[str, str], str] = {}
_scratch_seq = itertools.count()


def scratch_dir(prefix: str, key: str = "") -> str:
    """A new empty directory named ``prefix<n>`` under this process's
    scratch root; the directory last returned for the same
    ``(prefix, key)`` is removed first. Freshness matters to callers:
    a reused streaming checkpoint marks its source files processed
    and drains an empty batch."""
    global _scratch_root
    with _SCRATCH_LOCK:
        pid = os.getpid()
        if _scratch_root is None or _scratch_root[0] != pid:
            _scratch_root = (pid, tempfile.mkdtemp(prefix="elb_etl_scratch_"))
            _scratch_last.clear()  # a forked child's copy names parent dirs
        old = _scratch_last.pop((prefix, key), None)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        path = os.path.join(_scratch_root[1], f"{prefix}{next(_scratch_seq)}")
        os.mkdir(path)
        _scratch_last[(prefix, key)] = path
        return path


@atexit.register
def _remove_scratch_root() -> None:
    # only the creating pid: a forked child's exit keeps the parent's
    # state. rmtree unlinks symlinks (staged sources), never follows.
    if _scratch_root is not None and _scratch_root[0] == os.getpid():
        shutil.rmtree(_scratch_root[1], ignore_errors=True)
