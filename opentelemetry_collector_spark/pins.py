"""Session-lifetime accounting for ``localCheckpoint`` pins.

Several operators pin small frames with ``localCheckpoint(eager=True)``
— trained LM models, the range-partitioned packing frame, KMeans
training samples — because the pin is load-bearing: it breaks a
subtree that would otherwise be inlined N times (N corpus scans), or
freezes a non-deterministic assignment consumed twice. Each pinned
frame is tiny (vocab- or sample-sized), but checkpoint blocks live for
the SESSION lifetime, so a long-running process that invokes these
operators repeatedly (the bench harness, a streaming driver, a
notebook) accumulates pinned storage without bound (ADVICE r4).

This module is the release valve: operators route pins through
:func:`pin`, and harness-level callers (bench reps, selfcheck, a
streaming epoch boundary) call :func:`release_pins` once the consuming
actions are done. Releasing is ONLY safe after every consumer of the
pinned frame has run — a localCheckpoint truncates lineage, so an
unpersisted checkpoint cannot be recomputed; that is why release is an
explicit harness decision, not automatic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` a frame and register it for later release."""
    out = df.localCheckpoint(eager=eager)
    _PINNED.append(out)
    return out


def register(df: DataFrame) -> DataFrame:
    """Register an already-checkpointed frame for later release (for
    call sites that manage the checkpoint themselves, e.g. the final
    labels of an iterative loop that frees its own intermediates)."""
    _PINNED.append(df)
    return df


def free(df: DataFrame) -> bool:
    """Immediately free ONE frame's checkpoint blocks; True if freed.

    ``DataFrame.unpersist()`` is a NO-OP for ``localCheckpoint`` frames
    — it only drops CacheManager entries, never the checkpoint RDD
    (verified on PySpark 4.1.2: the RDD stays in
    ``sc.getPersistentRDDs`` after ``unpersist(True)``). The real
    release is JVM-side: a checkpointed Dataset's analyzed plan is a
    ``LogicalRDD`` wrapping the persisted RDD, and unpersisting THAT
    frees exactly this frame's blocks, leaving other pins intact. The
    frame is unusable afterwards (lineage was truncated) — callers must
    know every consumer has run, which is why this is explicit.

    Falls back to plain ``unpersist()`` for frames registered here that
    are cached rather than checkpointed."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getName().endswith("LogicalRDD"):
        plan.rdd().unpersist(False)
        return True
    df.unpersist()
    return False


def release_pins() -> int:
    """Free every registered pin's blocks; returns how many were released.

    Call only at a quiescent point: after the actions that consume the
    pinned frames have completed (end of a bench rep, end of a
    selfcheck query, a committed streaming epoch)."""
    n = len(_PINNED)
    for df in _PINNED:
        free(df)
    _PINNED.clear()
    return n
