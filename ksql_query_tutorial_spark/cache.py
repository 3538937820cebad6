"""Session-scoped registry for operator-pinned cache blocks
(VERDICT r7 #4 / ADVICE r6+r7 cache-lifecycle findings).

Several operators ``persist()`` a shared intermediate (a shingle
posting, a normalized edge list, an LSH sketch) that the frame they
RETURN reads lazily — so the operator itself can never unpersist it:
the block must outlive the call. Under ``bench.py`` this is moot
(``clearCache()`` per query), but a long-lived engine session running
these operators repeatedly accumulates pinned blocks without ever
knowing their handles.

Every such return-path persist now routes through :func:`pin`, which
records the frame in one process-wide registry; a session calls
:func:`release` at any quiescent point (between queries, after
consuming results) to drop every block the operators pinned since the
last release. Unpersisting a frame whose results were already consumed
is free; unpersisting one that is consumed again later merely
recomputes — never wrong.

Out of scope, deliberately: ``localCheckpoint`` blocks (the iterative
operators' lineage truncation). Those are released by the JVM's
ContextCleaner once the RDD object is garbage-collected — the r7-
measured ``System.gc()`` between bench passes handles them, and they
cannot be unpersisted early without destroying the checkpoint. In-loop
persists that already unpersist themselves within the operator call
(the BPE trainer's deferred-by-one-round pattern, k-means' Lloyd
rounds) are likewise self-contained and stay out of the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and record it for a later :func:`release`."""
    df = df.persist()
    _PINNED.append(df)
    return df


def release() -> int:
    """Unpersist every pinned frame; returns how many were released.

    Idempotent and safe at any quiescent point: blocks whose consumers
    already ran are simply freed; a re-consumed frame recomputes.
    """
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            # a stopped session's frames can't (and needn't) unpersist
            pass
    return n


def pinned_count() -> int:
    return len(_PINNED)
