"""``localCheckpoint`` lifecycle management.

The iterative operators (PageRank, HITS, BFS, k-core, label
propagation, FPS coreset, Boruvka MST, connected components) truncate
lineage per round with ``localCheckpoint(eager=True)``.  The blocks
behind a local checkpoint live in the executor BlockManager and are
freed only when the JVM ``ContextCleaner`` observes the RDD
unreachable — which, from PySpark, requires the py4j reference to be
collected on the Python side first.  In a long session (the 140-query
bench, the driver's correctness gate) that is far too lazy: orphaned
blocks from completed queries accumulate until memory pressure
evict-churns later queries (measured: pagerank sf1 24 s fresh vs
~50 s behind a session's worth of orphan blocks — the round-7
headline regression).

Two eager levers, both best-effort — errors are logged, never raised
(lifecycle hygiene must never fail a query):

- :func:`release` — free ONE checkpointed DataFrame's blocks the
  moment an iteration supersedes it.  Loop bodies call
  ``new = checkpoint(plan, replacing=old)`` so at most two versions
  of the per-round state ever hold storage.
- :func:`release_all` — drop every persistent RDD in the context;
  harness-level (between bench queries / gate rows), where by
  construction nothing from the previous query may be referenced
  again.

Safety: a locally-checkpointed RDD whose blocks are dropped cannot be
recomputed (lineage is truncated — that is the point of the
operation), so ``release`` is only correct when the caller guarantees
the frame is dead.  Inside the iterative loops that holds by
construction: round *t*'s state is consumed exactly once, to build
the (eagerly materialized) round *t+1* checkpoint.
"""

from __future__ import annotations

import logging
import weakref

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)

__all__ = ["checkpoint", "release", "release_all", "release_owned", "track"]

#: persist()-ed frames registered by library code whose cache must
#: outlive the registering call (e.g. ``BlockManager.persisted``'s key
#: frames, alive until the caller's last action) — released at the
#: next harness-level :func:`release_all`.  DataFrame-level unpersist (not
#: just the backing RDD) so the CacheManager entry goes too and later
#: plans stop substituting the dropped InMemoryRelation.
_TRACKED: list[DataFrame] = []

#: per-owner view of ``_TRACKED`` (``id(owner)`` → frames), enabling
#: :func:`release_owned` — the lighter per-manager lever (r10 ADVICE:
#: a long-lived library consumer composing many managers must not
#: depend on the harness-level release_all for cleanup).  Keyed by id
#: with a ``weakref.finalize`` dropping the entry when the owner is
#: collected, so the map itself never grows unboundedly; the frames of
#: a collected-but-unreleased owner stay in ``_TRACKED`` for the next
#: harness boundary, exactly as before.
_OWNED: dict[int, list[DataFrame]] = {}


def track(df: DataFrame, owner: object | None = None) -> DataFrame:
    """Register a persisted frame for the next :func:`release_all`.

    Returns the frame for call-site chaining.  Use for caches created
    inside operator graph construction, where the creator cannot know
    when the terminal action has consumed them.  Pass ``owner`` (the
    object whose lifetime bounds the cache, e.g. the BlockManager the
    frame backs) to additionally enable :func:`release_owned`."""
    _TRACKED.append(df)
    if owner is not None:
        key = id(owner)
        if key not in _OWNED:
            _OWNED[key] = []
            weakref.finalize(owner, _OWNED.pop, key, None)
        _OWNED[key].append(df)
    return df


def release_owned(owner: object) -> None:
    """Unpersist every frame :func:`track`-ed with this ``owner`` and
    drop it from the harness registry.  Safe once the owner is dead
    (its terminal action consumed); idempotent."""
    for df in _OWNED.pop(id(owner), []) or []:
        try:
            df.unpersist()
        except Exception:
            logger.warning("release_owned: unpersist failed", exc_info=True)
        try:
            _TRACKED.remove(df)
        except ValueError:
            pass


def checkpoint(df: DataFrame, replacing: DataFrame | None = None) -> DataFrame:
    """Eager ``localCheckpoint``; optionally free the superseded round's
    blocks once the new ones are materialized."""
    out = df.localCheckpoint(eager=True)
    if replacing is not None:
        release(replacing)
    return out


def release(df: DataFrame | None) -> None:
    """Free the BlockManager storage behind a ``localCheckpoint``-ed
    DataFrame immediately (instead of waiting for py4j + ContextCleaner
    garbage collection).  No-op for non-checkpointed frames; a JVM
    error is logged."""
    if df is None:
        return
    try:
        # the plan of a checkpointed Dataset is a LogicalRDD; its rdd()
        # accessor is the materialized RDD[InternalRow] holding the blocks
        rdd = df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        logger.debug("release: frame is not checkpointed", exc_info=True)
        return
    try:
        rdd.unpersist(False)
    except Exception:
        logger.warning("release: unpersist failed", exc_info=True)


def release_all(spark: SparkSession) -> None:
    """Unpersist EVERY persistent RDD in the context — localCheckpoint
    blocks and leaked ``persist()``s alike.  Only safe between
    independent units of work (bench queries, gate rows): afterwards,
    any still-held checkpointed frame is unusable."""
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
        except Exception:
            logger.warning("release_all: unpersist of a tracked frame failed", exc_info=True)
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            try:
                jrdd.unpersist(False)
            except Exception:
                logger.warning("release_all: unpersist of an RDD failed", exc_info=True)
    except Exception:
        logger.warning("release_all: listing persistent RDDs failed", exc_info=True)
