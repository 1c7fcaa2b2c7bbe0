"""Session-scoped memo for per-corpus artifacts.

Operators that read one corpus many times derive artifacts from it once
and reuse them: loaded table handles, scan split counts, doc counts,
MinHash signatures, LSH candidates, dup-graph labels, ANN quantizers and
the MoR reference warehouse.  Every such artifact goes through
:func:`memo`, and one policy applies to every entry:

* **Key.**  An entry is keyed on ``(applicationId, id(session), kind,
  key)``; ``key[0]`` is the corpus path wherever there is one.  The
  corpus at a path is immutable in-process, so a live entry is never
  stale.  The entry holds its session, so ``id(session)`` cannot be
  reused by another session while the entry exists.  Sessions sharing
  one context (``newSession``/``cloneSession``) never see each other's
  entries: a DataFrame is bound to the session that built it, and that
  session's conf decides values such as the scan split count.
* **Dead contexts.**  On insert, entries under another applicationId
  are dropped: their DataFrames died with their SparkContext.
* **One corpus per session and kind.**  On insert, entries of the same
  session and kind under another corpus are dropped, so a session that
  works through several corpora pins the artifacts of the latest only.
  Keys that differ only after the corpus coexist.
* **Release.**  A dropped value is released here and nowhere else:
  every cached DataFrame in it, including those inside tuples and
  lists, is unpersisted.  A failed unpersist on a dead context is
  ignored.

:func:`stats` reports hits, misses and build seconds per kind; each
build is logged at DEBUG level.
"""

from __future__ import annotations

import logging
import threading
import time
from typing import Callable, TypeVar

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

T = TypeVar("T")

log = logging.getLogger(__name__)

_LOCK = threading.Lock()
# (applicationId, id(session), kind, key) -> (session, value)
_ENTRIES: dict[tuple, tuple] = {}
# kind -> [hits, misses, build seconds]
_STATS: dict[str, list] = {}


def _release(value) -> None:
    """Unpersist every cached DataFrame in *value* (tuples/lists walked)."""
    if isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
    elif isinstance(value, DataFrame) and value.is_cached:
        try:
            value.unpersist()
        except Py4JError:
            pass  # the context died first: nothing left to free


def memo(spark, kind: str, key: tuple, build: Callable[[], T]) -> T:
    """The value memoized for ``(spark, kind, key)``, built on first use
    with ``build()``; see the module docstring for the eviction policy."""
    app, sid, corpus = spark.sparkContext.applicationId, id(spark), key[:1]
    fk = (app, sid, kind, key)
    with _LOCK:
        stat = _STATS.setdefault(kind, [0, 0, 0.0])
        if fk in _ENTRIES:
            stat[0] += 1
            return _ENTRIES[fk][1]
        stat[1] += 1
    # built unlocked: a build may memo what it derives from, or wait on
    # threads that do
    t0 = time.perf_counter()
    value = build()
    dt = time.perf_counter() - t0
    log.debug("memo build %s %r: %.3fs", kind, key, dt)
    with _LOCK:
        stat[2] += dt
        if fk in _ENTRIES:  # a concurrent build finished first: keep it
            value, dropped = _ENTRIES[fk][1], [value]
        else:
            stale = [
                k
                for k in _ENTRIES
                if k[0] != app or (k[1:3] == (sid, kind) and k[3][:1] != corpus)
            ]
            dropped = [_ENTRIES.pop(k)[1] for k in stale]
            _ENTRIES[fk] = (spark, value)
    _release(dropped)
    return value


def stats() -> dict[str, dict[str, float]]:
    """Per-kind ``{"hits", "misses", "build_s"}`` since process start."""
    with _LOCK:
        return {k: dict(zip(("hits", "misses", "build_s"), v)) for k, v in _STATS.items()}
