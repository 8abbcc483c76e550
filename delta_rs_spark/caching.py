"""Session-lifetime cache hygiene for the certified-query catalog.

Several catalog queries persist a reused intermediate (a vocab-sized
aggregate feeding two consumers) with ``MEMORY_AND_DISK``. The persist is
the right plan choice, but the query function returns a *lazy* DataFrame —
the cache is populated only when the caller materializes it, so the query
cannot unpersist before returning. Without a release point, a long-lived
session running the whole catalog (the driver's certification loop)
accumulates every query's pinned lineage for the session lifetime:
unbounded executor-memory pressure and "already cached" warnings.

The contract here: every persist inside a catalog query goes through
:func:`persist_tracked`, and the ``@query`` wrapper calls
:func:`release_tracked` when the NEXT catalog query starts (depth-guarded,
so a query composed of other catalog queries does not release its own
intermediates mid-build). Residue is therefore bounded to one query's
caches, released on the next call — or immediately via an explicit
``release_all_tracked()`` from a harness that wants a clean session tail.
``release_tracked()`` frees the calling thread's entries plus anything
left behind by threads that have since exited; only a LIVE foreign
thread's in-flight intermediates are off-limits to it.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Tracked persists are per-THREAD: two catalog queries built concurrently on
# different threads (the conflict-matrix lifecycle queries already run racing
# transactions on threads) must not release each other's in-flight
# intermediates — a shared list would let one thread's depth-0 entry
# unpersist another query's caches mid-build. The per-thread lists live in
# one lock-guarded registry (not threading.local alone) so a harness cleanup
# can still release EVERYTHING — including frames persisted on a worker
# thread that has since exited, which a pure thread-local would strand in
# Spark's cache registry for the session lifetime. Registry keys are
# never-reused tokens handed out per thread (NOT threading.get_ident():
# CPython recycles idents, and a new thread inheriting a dead worker's key
# would release frames whose lazy consumers are still materializing).
import itertools as _itertools

_LOCK = threading.Lock()
# key -> (owning Thread, tracked frames): the Thread object lets any later
# depth-0 sweep drain entries whose owner has exited — short-lived worker
# threads (the conflict-matrix lifecycle queries) persist frames and die
# before their own next release point, and without the liveness check those
# entries would stay pinned in Spark's cache registry for the session
_BY_KEY: dict[int, tuple[threading.Thread, list[DataFrame]]] = {}
_KEY = threading.local()
_NEXT_KEY = _itertools.count()


def _register(df: DataFrame) -> None:
    key = getattr(_KEY, "value", None)
    if key is None:
        key = _KEY.value = next(_NEXT_KEY)
    with _LOCK:
        # append under the lock: an unlocked append could land in a list
        # release_all_tracked() already popped, stranding the persist
        _BY_KEY.setdefault(key, (threading.current_thread(), []))[1].append(df)


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist a reused intermediate and register it for release when the
    next catalog query begins (or on an explicit :func:`release_tracked`)."""
    df = df.persist(level)
    _register(df)
    return df


def track(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame for release with the tracked set
    (for operators that manage persist/unpersist internally during an
    iteration but whose final persisted result outlives the function)."""
    _register(df)
    return df


def release_tracked() -> None:
    """Unpersist every intermediate tracked by THIS thread, plus any entry
    whose owning thread has EXITED (a dead worker can never reach its own
    next release point, so the next depth-0 sweep on any thread adopts its
    residue). Non-blocking, error-tolerant: a stopped SparkSession or
    already-released frame is not an error. A caller that builds several
    query DataFrames before collecting any should materialize them one at
    a time — release happens when the next catalog query starts."""
    key = getattr(_KEY, "value", None)
    with _LOCK:
        lists = []
        if key is not None and key in _BY_KEY:
            lists.append(_BY_KEY.pop(key)[1])
        dead = [k for k, (t, _) in _BY_KEY.items() if not t.is_alive()]
        lists.extend(_BY_KEY.pop(k)[1] for k in dead)
    for lst in lists:
        _drain(lst)


def release_all_tracked() -> None:
    """Unpersist every tracked intermediate from EVERY thread — the
    whole-session cleanup for a harness that wants a clean tail (live
    threads included; dead-thread residue is already adopted by any
    depth-0 :func:`release_tracked` sweep)."""
    with _LOCK:
        lists = [lst for _, lst in _BY_KEY.values()]
        _BY_KEY.clear()
    for lst in lists:
        _drain(lst)


def _drain(lst: list[DataFrame]) -> None:
    while lst:
        df = lst.pop()
        try:
            df.unpersist()
        except Exception:
            pass
