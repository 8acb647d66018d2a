"""One cache lifecycle: every ``persist`` and ``localCheckpoint`` in the
package is made and freed here.

An operator that reuses an intermediate caches it with :func:`persist`
(``df.persist()``, default level) or :func:`checkpoint` (eager
``localCheckpoint``, which also truncates lineage).  Either call
registers the frame with the innermost open :func:`scope`; when that
scope exits — normally or by an exception — every frame still
registered with it is freed::

    @ckpt.scope()
    def operator(df):
        base = ckpt.persist(df.select(...))      # freed at exit
        out = ckpt.checkpoint(base.join(...))     # materialized result
        return ckpt.keep(out)                     # outlives this scope

- :func:`keep` hands a registration to the enclosing scope: an
  operator that returns a checkpoint keeps it alive for its caller's
  action.
- :func:`release` frees one registered frame now.  Iterative loops
  free the superseded round with it, so at most two rounds of state
  hold storage.
- A function that returns a *lazy* plan reading its caches opens no
  scope: its caches register with the caller's scope and live until
  the caller's action has run.

With no scope open, :func:`persist` and :func:`checkpoint` register
nothing; :func:`release_all` — harness-level, between independent
queries — frees such frames along with everything else.

Why free eagerly: a local checkpoint's blocks live in the executor
BlockManager and are otherwise freed only when the JVM
``ContextCleaner`` sees the RDD unreachable, which from PySpark needs
the py4j reference collected first.  In a long session that is far too
lazy: orphaned blocks accumulate until memory pressure evict-churns
later queries (pagerank at sf1: 24 s fresh vs ~50 s behind a session's
worth of orphan blocks).  A freed checkpoint cannot be recomputed (its
lineage is gone), so a frame must not be released while a plan that
still runs reads it.

Freeing is best-effort: a JVM error is logged, never raised — cache
hygiene must not fail a query.
"""

from __future__ import annotations

import contextlib
import logging
import threading

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)

__all__ = ["scope", "persist", "checkpoint", "release", "keep", "release_all"]

#: per thread, the open scopes, innermost last; each holds its
#: registered ``(frame, is_checkpoint)`` pairs in registration order
_local = threading.local()


def _scopes() -> list[list[tuple[DataFrame, bool]]]:
    if not hasattr(_local, "scopes"):
        _local.scopes = []
    return _local.scopes


def _free(df: DataFrame, is_checkpoint: bool) -> None:
    try:
        if is_checkpoint:
            # a checkpointed frame's plan is a LogicalRDD; its rdd()
            # accessor is the materialized RDD[InternalRow] holding the
            # blocks
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            df.unpersist()
    except Exception:
        logger.warning("freeing a cached frame failed", exc_info=True)


def _register(df: DataFrame, is_checkpoint: bool) -> DataFrame:
    scopes = _scopes()
    if scopes:
        scopes[-1].append((df, is_checkpoint))
    return df


def _unregister(df: DataFrame | None) -> tuple[int, tuple[DataFrame, bool]] | None:
    """Remove ``df``'s registration from the innermost scope holding
    it; returns that scope's depth and the entry, or None."""
    scopes = _scopes()
    for depth in range(len(scopes) - 1, -1, -1):
        for i, (frame, _) in enumerate(scopes[depth]):
            if frame is df:
                return depth, scopes[depth].pop(i)
    return None


@contextlib.contextmanager
def scope():
    """Own the caches made while open; free them on exit, errors
    included.  Usable as ``with ckpt.scope():`` or ``@ckpt.scope()``."""
    frames: list[tuple[DataFrame, bool]] = []
    scopes = _scopes()
    scopes.append(frames)
    try:
        yield
    finally:
        # by identity: two scopes' lists may compare equal
        scopes[:] = [s for s in scopes if s is not frames]
        while frames:
            _free(*frames.pop())


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` at the default level, registered with the
    innermost open scope."""
    return _register(df.persist(), False)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint``, registered with the innermost open
    scope."""
    return _register(df.localCheckpoint(eager=True), True)


def release(df: DataFrame | None) -> None:
    """Free one registered frame now.  No-op for None or a frame no
    open scope holds."""
    found = _unregister(df)
    if found is not None:
        _free(*found[1])


def keep(df: DataFrame) -> DataFrame:
    """Move ``df``'s registration to the scope enclosing the one that
    holds it (with none, the frame is left for :func:`release_all`).
    Returns ``df`` for ``return ckpt.keep(out)``."""
    found = _unregister(df)
    if found is not None and found[0] > 0:
        _scopes()[found[0] - 1].append(found[1])
    return df


def release_all(spark: SparkSession) -> None:
    """Drop every cached relation and unpersist EVERY persistent RDD in
    the context — local-checkpoint blocks and unscoped persists alike.
    Only safe between independent units of work (bench queries, gate
    rows): afterwards, any still-held checkpointed frame is unusable."""
    try:
        spark.catalog.clearCache()
    except Exception:
        logger.warning("release_all: clearing the cache failed", exc_info=True)
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            try:
                jrdd.unpersist(False)
            except Exception:
                logger.warning("release_all: unpersist of an RDD failed", exc_info=True)
    except Exception:
        logger.warning("release_all: listing persistent RDDs failed", exc_info=True)
