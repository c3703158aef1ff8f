"""Tracked persist: every operator-internal ``persist()`` goes through
``tracked_persist`` so a long-lived Engine session can reclaim executor
memory with one call instead of leaking cached partitions across calls
(the multi-consumer frames are tiny — grids, signatures, narrow hashed
columns — but a service calling operators in a loop would still
accumulate them without an unpersist path).

The registry holds STRONG references on purpose: the Python wrapper of
an operator-internal frame goes out of scope the moment the operator
returns, while the JVM-side InMemoryRelation lives on in the returned
plan — a weak registry would forget exactly the frames that leak.  The
wrappers are a few hundred bytes each; ``unpersist_tracked`` drops
both the cache blocks and the references."""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + registration for later bulk release."""
    df.persist()
    _TRACKED.append(df)
    return df


def unpersist_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked frame; returns how many were released.
    Safe to call at any time — an unpersisted frame simply recomputes
    on next use."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


def mark() -> int:
    """Registry position, for scoped release: pair with
    ``tracked_since`` to capture exactly the frames an operator call
    persisted."""
    return len(_TRACKED)


def tracked_since(position: int) -> list[DataFrame]:
    """The frames registered after ``mark()`` returned ``position``."""
    return list(_TRACKED[position:])


def release(frames: list[DataFrame], blocking: bool = False) -> int:
    """Unpersist SPECIFIC frames and drop them from the registry — the
    scoped counterpart of ``unpersist_tracked`` for long-running read
    paths (e.g. a monitoring loop re-reading ``seasonal_view``) that
    must not clear caches other operators still hold."""
    n = 0
    for df in frames:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
        try:
            _TRACKED.remove(df)
        except ValueError:
            pass
    return n


def lineage_checkpoint(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint``: physically truncates the lineage of a
    multi-consumer frame.

    ``tracked_persist`` serves DATA from the cache, but Spark's cache
    substitution leaves the full analyzed subtree in place per reader —
    a composed audit that stacks persisted subtrees re-optimizes and
    reprints each one per reference (x177's dump reached 178 textual
    scan nodes / 348 exchanges this way; VERDICT r8 item 2).  A local
    checkpoint replaces the plan with a ``LogicalRDD`` leaf, so every
    downstream reference starts from the materialized rows: plan
    compile/display cost stops growing with composition depth.

    Lifecycle: NOT registered with the unpersist registry, on purpose.
    Force-unpersisting a checkpointed RDD makes every plan referencing
    it UNRECOMPUTABLE (checkpoint-block-not-found, unlike a persisted
    frame which silently recomputes), and the returned query result
    itself references the ``LogicalRDD`` leaf — so release is left to
    Spark's ContextCleaner, which frees the MEMORY_AND_DISK blocks
    when the last plan holding the RDD is dropped.  That keeps
    ``unpersist_tracked()`` safe to call at any time, unchanged.

    Use ONLY for bounded frames (models, histograms, per-doc
    projections) that several consumers re-read: the blocks are not
    rebuilt on executor loss (local, not reliable, checkpoint — an
    executor failure fails the query and the operator reruns, the same
    contract as x37's k-means loop truncation); and the cut is opaque
    to Catalyst, so no filter/column pushdown crosses it — callers
    checkpoint narrow, already-reduced frames."""
    return df.localCheckpoint(eager=False)


def release_checkpoints(df: DataFrame) -> None:
    """Force-unpersist the local checkpoints ``df``'s plan reads.  The
    exception to ``lineage_checkpoint``'s leave-it-to-GC rule, for an
    owner that runs no plan referencing them again — a sink whose batch
    has committed — so the blocks go when its call ends rather than at
    the next driver GC."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD" and leaf.rdd().isLocallyCheckpointed():
            leaf.rdd().unpersist(False)


def session_gc(spark) -> None:
    """Reclaim orphaned ``lineage_checkpoint`` blocks in a long-lived
    session (ADVICE r9): a localCheckpoint's MEMORY_AND_DISK blocks
    are freed by Spark's ContextCleaner only after DRIVER GC notices
    the RDD is unreachable — a bench loop running hundreds of
    checkpointing queries (x164/x177/x182, the sinks) without a GC
    cycle accumulates them between queries.  One Python ``gc.collect``
    (drops the Python-side plan wrappers) plus a JVM ``System.gc()``
    nudge lets the cleaner run; checkpoints still referenced by live
    plans survive (the cleaner only frees unreachable RDDs), so this
    is safe to call between queries at any time.

    Deliberately NOT part of unpersist_tracked: force-unpersisting a
    checkpointed RDD would make plans referencing it unrecomputable
    (see lineage_checkpoint); GC-driven release is the only safe
    reclamation path."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # non-JVM test doubles: the Python collect already ran
