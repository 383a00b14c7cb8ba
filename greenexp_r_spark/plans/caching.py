"""Session-scoped cache bookkeeping.

Registry queries that persist an intermediate their arms read
several times (the shingle table of the dedup union, the quantized
corpus of the ANN union) register the DataFrame here instead of
calling .persist() bare.  Spark's CacheManager never drops a persisted
DataFrame on its own, so in a long-lived session running the whole
query registry those caches accumulate in storage memory.

Lifecycle (ADVICE r03 #5 — eviction is QUERY-scoped, not
per-persist): ``tracked_persist`` only registers; nothing is evicted
when a second operator persists inside the same composed query, so a
capstone that builds two tracked operators before its action keeps
both caches live.  ``release_caches()`` drops everything tracked and
is called at QUERY BOUNDARIES — the driver contract wraps every
``queries()`` entry so building query N+1 releases query N's caches —
and ``cache_scope()`` gives library callers an explicit nestable
scope.  Unpersisting is always safe for correctness: a consumer of an
already-released DataFrame just recomputes its lineage.  A lock makes
registration safe under concurrent query construction.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_live: list[DataFrame] = []
_lock = threading.Lock()


def release_caches() -> None:
    """Unpersist every tracked cache (no-op on already-released ones).
    Call at query boundaries, not between operators of one query."""
    with _lock:
        drop, _live[:] = _live[:], []
    for df in drop:
        try:
            df.unpersist()
        except Exception:
            pass                      # session already stopped


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() with registration.  Never evicts other caches — two
    tracked operators composed in one plan both stay cached until the
    enclosing query boundary releases them."""
    out = df.persist()
    with _lock:
        _live.append(out)
    return out


class cache_scope:
    """Nestable explicit scope: caches persisted inside are released
    at exit, caches from outer scopes are left alone.

    >>> with cache_scope():
    ...     sh = tracked_persist(shingle_table(corpus))
    ...     minhash_lsh_pairs(corpus, sh=sh).count()
    ...     simhash_pairs(corpus, sh=sh).count()   # reads the cache
    """

    def __enter__(self) -> "cache_scope":
        with _lock:
            self._mark = len(_live)
        return self

    def __exit__(self, *exc) -> None:
        with _lock:
            drop, _live[self._mark:] = _live[self._mark:], []
        for df in drop:
            try:
                df.unpersist()
            except Exception:
                pass
