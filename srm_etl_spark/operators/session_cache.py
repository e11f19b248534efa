"""Session-scoped persist slots for operators that return lazy frames built
over an expensive intermediate.

An operator that branches over the same intermediate (both sides of a
self-join, a filter split whose halves are unioned back) must persist that
intermediate or every branch recomputes it — but the operator returns a lazy
frame, so it cannot unpersist before returning (the cache would be evicted
before the first action). The discipline used here (originally for the
packed-doc table of the bitmap similarity join): each named slot holds at most
one persisted frame per session; a new frame with identical semantics reuses
the warm cache, a different one evicts the predecessor. Storage accumulation
is bounded to one frame per slot.

The module also owns every release: :func:`release_checkpoint` frees one
checkpoint's blocks (the iterative graph operators call it per round),
:func:`keep_result` memoizes operators that train eagerly, and
:func:`release_all` is the one reset for all of it.
"""

from __future__ import annotations

import logging
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

_SLOTS: dict[str, DataFrame] = {}

# Pool membership is EXPLICIT (pool name -> {semantic_hash: frame}), never
# key-prefix matching: a pool whose name prefixes another ('training' vs
# 'training_corpus') must not scan or evict the other pool's pins, and named
# keep_persisted slots must never be counted against a pool's LRU budget.
_POOLS: dict[str, dict[int, DataFrame]] = {}

# Checkpoint pools (keep_checkpointed_pooled): semantic_hash of the ORIGINAL
# plan -> (original frame, localCheckpoint'ed frame). The original rides
# along so a pool hit can verify sameSemantics against it — the checkpointed
# frame's own plan is a block scan and can no longer witness what it was
# computed from. Checkpoint blocks are freed by the ContextCleaner when the
# RDD reference is dropped, so eviction = del.
_CKPT_POOLS: dict[str, dict[int, tuple[DataFrame, DataFrame]]] = {}


# Plan-keyed results of operators whose expensive work runs EAGERLY at
# construction (the connected-components loop, Lloyd's driver syncs), so a
# persist of their lazy output could not dedupe it: slot -> (key frame,
# params, result). One entry per slot; release_all drops them all.
_RESULTS: dict[str, tuple[DataFrame, tuple, object]] = {}


def release_checkpoint(ckpt: DataFrame) -> None:
    """Deterministically free a localCheckpoint'ed frame's executor blocks.

    Dropping the Python reference alone leaves reclamation to py4j
    finalization + JVM GC + ContextCleaner — nondeterministic, so executor
    storage could still hold a released pin's blocks while the next query
    is measured, and an iterative loop would accumulate one checkpoint per
    round. The checkpointed frame's analyzed plan is a LogicalRDD over the
    materialized block RDD; unpersist it directly (``DataFrame.unpersist``
    is a no-op here: the blocks live outside the CacheManager). The frame is
    DEAD afterwards (truncated lineage cannot recompute) — only call where
    no consumer is pending. A RELIABLE checkpoint (file-backed) has nothing
    to unpersist and passes through; a failure is logged and leaves the
    blocks to the GC path."""
    try:
        ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — GC path remains correct
        _log.warning("session_cache: could not release checkpoint blocks", exc_info=True)


def _reliable_checkpoint_dir(spark) -> str | None:
    """Durable checkpoint directory when reliable-checkpoint mode is on.

    ``SPARK_GRAFT_RELIABLE_CKPT_DIR`` (cluster posture: a durable, usually
    HDFS/object-store path) turns the pin pools' localCheckpoint into a
    reliable ``DataFrame.checkpoint``: blocks survive executor loss, so a
    100 TB job does not die mid-query with "checkpoint block not found"
    when one executor is decommissioned. Local default stays localCheckpoint
    (cheaper, and local mode cannot lose an executor). Reliable checkpoint
    files are reclaimed by the ContextCleaner only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` — set it on
    cluster deployments (documented in SCALE.md)."""
    d = os.environ.get("SPARK_GRAFT_RELIABLE_CKPT_DIR")
    if not d:
        return None
    try:
        sc = spark.sparkContext
        current = sc._jsc.sc().getCheckpointDir()
        if current.isEmpty():
            sc.setCheckpointDir(d)
    except Exception:  # noqa: BLE001
        return None
    return d


def checkpoint_pool_originals() -> list[tuple[str, DataFrame]]:
    """(pool, original frame) for every live checkpoint pin — the BUILD
    lineage that the truncated pin hides from the final frame's explain.
    Diagnostics hook for the plan-audit linter: a pinned stage's scans,
    pushed filters and exchanges execute at construction, so an audit that
    only greps the final plan would silently pass anti-patterns buried in
    the build."""
    return [
        (pool, orig)
        for pool, slots in _CKPT_POOLS.items()
        for (orig, _ckpt) in slots.values()
    ]


def release_all(spark=None) -> None:
    """Drop every session pin: named slots, LRU pools, checkpoint pools, the
    :func:`keep_result` memos, and (when ``spark`` is given) the whole
    catalog cache. The one reset: call it after rewriting input files in
    place mid-session, or a same-plan lookup would serve the old result.

    Harness hook — ``bench.py`` and ``tools/check_correctness.py`` call this
    BETWEEN queries so one query's warm cache cannot tax its neighbour's
    timing or memory in a long single-session run (the r11 driver bench
    showed phantom 4-6x regressions on queries that merely ran after
    cache-heavy ones). Releasing a pin is always a recompute, never a wrong
    answer, PROVIDED no deferred action on a previously returned frame is
    still pending (the resample-desync pins of enumerate_rows_scalable) —
    harnesses therefore release only after fully materializing a query."""
    for df in _SLOTS.values():
        try:
            df.unpersist(blocking=False)
        except Exception:  # noqa: BLE001, S110 — session may be gone
            pass
    _SLOTS.clear()
    for pool in _POOLS.values():
        for df in pool.values():
            try:
                df.unpersist(blocking=False)
            except Exception:  # noqa: BLE001, S110
                pass
    _POOLS.clear()
    # checkpoint blocks are RDD-cached outside the CacheManager; unpersist
    # the materialized block RDDs directly (deterministic — dropping the
    # reference alone waits on py4j finalization + JVM GC + ContextCleaner,
    # so a neighbour query could be measured against leftover blocks)
    for pool in _CKPT_POOLS.values():
        for _orig, ckpt in pool.values():
            release_checkpoint(ckpt)
    _CKPT_POOLS.clear()
    _RESULTS.clear()
    if spark is not None:
        # also drop raw persists that outlive their operator call (pins on
        # lazily returned frames made outside the keep_* helpers)
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001, S110
            pass


def keep_result(key: DataFrame, slot: str, params: tuple, build):
    """``build()``, memoized one-deep under ``slot``: a repeat call with the
    same session, equal ``params`` and a ``key`` plan semantically equal to
    the stored one returns the stored result; anything else rebuilds and
    replaces it. For operators that run their work at construction time, so
    the reuse check must run against the INPUT plan before the work starts.
    Like every pin here, this assumes inputs are immutable between
    :func:`release_all` calls."""
    prev = _RESULTS.get(slot)
    if prev is not None:
        prev_key, prev_params, out = prev
        try:
            # same-session guard: a memo bound to a stopped session would
            # pass the pure-JVM plan comparison and crash on first action
            if (
                prev_key.sparkSession is key.sparkSession
                and params == prev_params
                and key.sameSemantics(prev_key)
            ):
                return out
        except Exception:  # noqa: BLE001, S110 — prior session may be gone
            pass
    out = build()
    _RESULTS[slot] = (key, params, out)
    return out


def keep_persisted(df: DataFrame, slot: str) -> DataFrame:
    """Persist ``df`` under ``slot``, reusing the previous persist when the
    plan is semantically identical (warm repeats) and evicting it when not."""
    prev = _SLOTS.get(slot)
    if prev is not None:
        try:
            if df.sameSemantics(prev):
                return prev
            prev.unpersist(blocking=False)
        except Exception:  # noqa: BLE001, S110 — prior session may be gone
            pass
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _SLOTS[slot] = df
    return df


def keep_persisted_pooled(
    df: DataFrame, pool: str, max_slots: int = 8, warn_on_evict: bool = False
) -> DataFrame:
    """:func:`keep_persisted` for slots keyed by PLAN (one slot per distinct
    semantic hash, e.g. the enumerate_rows ranged pins): a long session can
    enumerate many distinct frames, and unbounded per-plan slots would
    accumulate MEMORY_AND_DISK relations forever. The pool keeps at most
    ``max_slots`` frames per pool, LRU: reusing a slot refreshes it,
    inserting past the cap unpersists (non-blocking) and drops the
    least-recently-used one. Distinct frames enumerated concurrently within
    one operator call still each get their own pin (max_slots >= the operator
    fan-out), so the resample-desync protection is preserved; callers whose
    correctness DEPENDS on a pin staying alive until a deferred action runs
    (enumerate_rows_scalable) plumb their own ``max_slots`` sized to the
    number of frames they may hold open, and every eviction is logged so a
    desync would be diagnosable rather than silent."""
    slots = _POOLS.setdefault(pool, {})
    key = df.semanticHash()
    prev = slots.get(key)
    if prev is not None:
        try:
            if df.sameSemantics(prev):
                # refresh LRU position (dict preserves insertion order)
                slots[key] = slots.pop(key)
                return prev
            prev.unpersist(blocking=False)
        except Exception:  # noqa: BLE001, S110 — prior session may be gone
            pass
        slots.pop(key, None)
    while len(slots) >= max_slots:
        victim = next(iter(slots))  # least-recently-used
        evicted = slots.pop(victim)
        # routine LRU churn logs at DEBUG; callers whose correctness depends
        # on a pin outliving a deferred action (enumerate_rows_scalable's
        # range-boundary pins) pass warn_on_evict=True so THEIR evictions
        # stand out instead of drowning in benign pool turnover
        _log.log(
            logging.WARNING if warn_on_evict else logging.DEBUG,
            "session_cache pool %r evicting LRU pin %s (pool at cap %d)%s",
            pool, victim, max_slots,
            "; deferred actions on that frame will recompute un-pinned"
            if warn_on_evict else "",
        )
        try:
            evicted.unpersist(blocking=False)
        except Exception:  # noqa: BLE001, S110
            pass
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    slots[key] = df
    return df


def keep_checkpointed_pooled(
    df: DataFrame, pool: str, max_slots: int = 8, eager: bool = True
) -> DataFrame:
    """:func:`keep_persisted_pooled`, but the pin is a ``localCheckpoint``
    instead of a persist: the returned frame's lineage is TRUNCATED to a
    scan of the checkpointed blocks.

    Use this (not a plain persist) when the pinned frame feeds a deep chain
    of further pinned stages that each also fan out to several consumers —
    with persist the physical plan still CONTAINS the full upstream subtree
    under every consumer (the cache only short-circuits execution), so plan
    size grows multiplicatively with pin depth (q160/q166 hit 2,128 runtime
    exchange nodes this way); with a checkpoint each consumer's plan bottoms
    out at the scan. The trade: the stage is computed at build time
    (``eager=True``) or on the first downstream action (``eager=False`` —
    the lineage truncation is identical, only the compute is deferred; use
    this when not every caller will act on every stage) and the blocks live
    on executor-local storage until the reference drops
    (``release_all``/LRU eviction → ContextCleaner GC). At cluster scale this
    is the standard iterative-lineage-truncation tool (the q82 pagerank
    precedent at ``operators/graph.py``).

    Keyed by the ORIGINAL plan's semantic hash, and verified on hit with
    ``sameSemantics`` against the stored original (a bare 32-bit hash match
    could collide across distinct plans and silently serve wrong data), so
    warm repeats of the same stage reuse the computed checkpoint exactly
    like the persist pools."""
    slots = _CKPT_POOLS.setdefault(pool, {})
    key = df.semanticHash()
    prev = slots.get(key)
    if prev is not None:
        orig, ckpt = prev
        try:
            # sameSemantics doubles as the liveness probe — it is a real JVM
            # round-trip (client-side memoized attrs like schema would not
            # notice a torn-down session); a dead session throws → rebuild
            if df.sameSemantics(orig):
                slots[key] = slots.pop(key)  # refresh LRU position
                return ckpt
            # 32-bit semanticHash collision between distinct plans: do NOT
            # serve the stored checkpoint; fall through and overwrite
            _log.warning(
                "session_cache ckpt pool %r: semanticHash collision on %s; "
                "rebuilding (stored plan differs)", pool, key,
            )
        except Exception:  # noqa: BLE001, S110 — prior session gone
            pass
        slots.pop(key, None)
    while len(slots) >= max_slots:
        victim = next(iter(slots))
        # drop the REFERENCE only (ContextCleaner reclaims after GC): an
        # evicted localCheckpoint frame may still be lazily referenced by a
        # caller, and unlike a persist (recompute on miss) its blocks are
        # the only copy — deterministic freeing here would turn a benign
        # LRU eviction into "checkpoint block not found" downstream. The
        # deterministic path lives in release_all(), whose contract is that
        # harnesses call it only between fully-materialized queries.
        _log.debug("session_cache ckpt pool %r dropping LRU %s", pool, victim)
        slots.pop(victim)
    # Cluster posture: with SPARK_GRAFT_RELIABLE_CKPT_DIR set, pin to a
    # RELIABLE checkpoint (durable files — survives executor loss; a
    # localCheckpoint block has no lineage to recompute from, so one lost
    # executor would kill every downstream action). Local default stays
    # localCheckpoint: cheaper, and local mode cannot lose an executor.
    if _reliable_checkpoint_dir(df.sparkSession) is not None:
        out = df.checkpoint(eager=eager)
    else:
        out = df.localCheckpoint(eager=eager)
    slots[key] = (df, out)
    return out
