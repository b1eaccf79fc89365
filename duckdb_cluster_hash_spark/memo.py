"""Session memo: the one store for intermediates concurrent queries share.

Shingle/signature checkpoints, embedding probes, trained trajectories and
IVF index builds are each expensive and asked for by several catalog
queries over the same corpus.  They all live here, weakly keyed by the
owner frame (``sources.tables.load_table`` hands every caller one
canonical frame per table, so the frame's identity is the corpus's) and
namespaced by the caller's key, e.g. ``("emb", "q0")`` or
``("perceptron", 8)``.  An entry dies with its owner frame, or at
:func:`clear`.

One caller builds each (owner, key); concurrent callers of the same key
block on the builder's event and reuse its value, so a concurrent suite
never launches the same build twice.  A builder that fails, by any
exception, still releases its waiters and unregisters its entry; the
next caller rebuilds.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

_STORE: "weakref.WeakKeyDictionary[object, dict]" = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()


class _Entry:
    __slots__ = ("done", "ok", "value")

    def __init__(self) -> None:
        self.done = threading.Event()
        self.ok = False
        self.value = None


def shared(owner, key, build):
    """``build()``, memoized under (``owner``, ``key``).

    The lock guards only the store, never ``build``, so builds of
    different keys run concurrently.  A finished entry that failed is
    replaced on sight, so a waiter never spins on it."""
    mine = _Entry()
    # The try starts before registration: every exit after ``mine`` is in
    # the store, KeyboardInterrupt included, sets its event.
    try:
        while True:
            with _LOCK:
                per = _STORE.setdefault(owner, {})
                entry = per.get(key)
                if entry is None or (entry.done.is_set() and not entry.ok):
                    entry = per[key] = mine
            if entry is mine:
                break
            entry.done.wait()
            if entry.ok:
                return entry.value
        mine.value = build()
        mine.ok = True
        return mine.value
    finally:
        mine.done.set()
        if not mine.ok:
            with _LOCK:
                per = _STORE.get(owner)
                if per is not None and per.get(key) is mine:
                    del per[key]


def clear(owner=None) -> int:
    """Drop the finished entries of ``owner``, or of every owner when
    None, and return how many were dropped.  In-flight builds stay and
    serve their waiters.  DataFrame values are unpersisted.

    Quiesce the jobs that consume the dropped values first: a
    localCheckpoint has no lineage to recompute from, so a job still
    reading one fails."""
    dropped = []
    with _LOCK:
        owners = list(_STORE.keys()) if owner is None else [owner]
        for o in owners:
            per = _STORE.get(o)
            if per is None:
                continue
            for key, entry in list(per.items()):
                if entry.done.is_set():
                    dropped.append(per.pop(key))
            if not per:
                del _STORE[o]
    for entry in dropped:
        if isinstance(entry.value, DataFrame):
            try:
                entry.value.unpersist()
            except Exception:
                pass  # session already stopped; the blocks went with it
    return len(dropped)
