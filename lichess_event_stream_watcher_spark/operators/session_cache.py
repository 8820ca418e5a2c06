"""Session-lifetime cache registry for query-owned ``.persist()`` frames.

A query function that persists a shared subtree (the band sweep's
exact-pair table, the charlm scored frame) cannot unpersist it before
returning — it returns a LAZY plan and both consumers of the subtree
evaluate in the caller's single action. Without tracking, every
invocation therefore leaks one session-resident cached plan: bounded per
call, unbounded across repeated calls (bench min-of-N draws, a
long-lived driver serving thousands of batches) — the round-9 ADVICE
finding.

Harness contract: loops call :func:`release_session_caches` BETWEEN
queries, after the action that consumed the plan — never inside a timed
region (within one entry's min-of-N the cache stays live, which is the
intended warm-draw semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SESSION_CACHES: list[DataFrame] = []
_SESSION_BROADCASTS: list = []


def register_session_cache(df: DataFrame) -> DataFrame:
    """Track a persisted DataFrame for the harness's between-queries
    drain; returns it unchanged."""
    _SESSION_CACHES.append(df)
    return df


def register_session_broadcast(bc):
    """Track a Python ``Broadcast`` variable the same way (round-11,
    r10 ADVICE): the dense driver tiers broadcast CSR arrays that their
    LAZY returned plans read at action time, so the operator cannot
    destroy them before returning — without tracking, every invocation
    leaks one executor-resident broadcast for the session's lifetime.
    The drain calls ``unpersist()`` (not ``destroy()``): an already-run
    plan re-evaluated later lazily re-ships the blocks from the driver,
    so releasing between queries is always safe."""
    _SESSION_BROADCASTS.append(bc)
    return bc


def release_session_caches() -> None:
    """Unpersist and forget every cache registered since the last release
    (idempotent; safe when the backing SparkSession is already gone)."""
    while _SESSION_CACHES:
        df = _SESSION_CACHES.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 - session torn down mid-drain
            pass
    while _SESSION_BROADCASTS:
        bc = _SESSION_BROADCASTS.pop()
        try:
            bc.unpersist()
        except Exception:  # noqa: BLE001 - session torn down mid-drain
            pass
