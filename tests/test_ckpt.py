"""The cache lifecycle (``klinker_spark.ckpt``): a scope frees what was
persisted or checkpointed inside it — on normal exit and on an error —
``keep`` hands a frame to the enclosing scope, ``release`` frees one
frame early, and no other module creates or frees a cache itself.
The same source walk pins the coarse quantizer to one function."""

from __future__ import annotations

import ast
import pathlib

import pytest

import klinker_spark
from klinker_spark import ckpt


def _rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def test_scope_frees_on_normal_exit(spark):
    before = _rdds(spark)
    with ckpt.scope():
        ckpt.persist(spark.range(10)).count()
        ckpt.checkpoint(spark.range(5))
        assert len(_rdds(spark) - before) == 2
    assert _rdds(spark) - before == set()


def test_scope_frees_on_exception(spark):
    before = _rdds(spark)

    @ckpt.scope()
    def failing_op():
        ckpt.persist(spark.range(10)).count()
        ckpt.checkpoint(spark.range(5))
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        failing_op()
    assert _rdds(spark) - before == set()


def test_keep_moves_a_frame_to_the_outer_scope(spark):
    before = _rdds(spark)

    @ckpt.scope()
    def op():
        tmp = ckpt.persist(spark.range(10))
        tmp.count()
        with ckpt.scope():  # an empty nested scope changes nothing
            pass
        return ckpt.keep(ckpt.checkpoint(tmp.selectExpr("id * 2 AS id")))

    with ckpt.scope():
        out = op()
        # the operator's own cache is gone, its result is alive
        assert len(_rdds(spark) - before) == 1
        assert out.count() == 10
    assert _rdds(spark) - before == set()


def test_release_frees_one_frame_early(spark):
    before = _rdds(spark)
    with ckpt.scope():
        first = ckpt.checkpoint(spark.range(3))
        second = ckpt.checkpoint(spark.range(4))
        ckpt.release(first)
        ckpt.release(first)  # already freed: no-op
        ckpt.release(None)
        assert len(_rdds(spark) - before) == 1
        assert second.count() == 4
    assert _rdds(spark) - before == set()


def test_no_scope_registers_nothing(spark):
    before = _rdds(spark)
    frame = ckpt.checkpoint(spark.range(3))
    ckpt.keep(frame)  # unregistered: no-op
    ckpt.release(frame)  # unregistered: no-op
    assert frame.count() == 3
    assert len(_rdds(spark) - before) == 1
    ckpt.release_all(spark)  # the harness-level sweep frees it
    assert _rdds(spark) - before == set()


def test_only_ckpt_creates_or_frees_caches():
    """No module but ``ckpt.py`` calls ``.persist(``, ``.cache(``,
    ``.localCheckpoint(``, ``.checkpoint(`` or ``.unpersist(`` on a
    frame (``ckpt.persist(...)`` and friends are the sanctioned
    calls).  Parsed with ``ast``, so docstrings and comments that
    mention these methods do not count."""
    root = pathlib.Path(klinker_spark.__file__).parent
    methods = {"persist", "cache", "localCheckpoint", "checkpoint", "unpersist"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "ckpt.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            owner = node.func.value
            if node.func.attr in methods and not (
                isinstance(owner, ast.Name) and owner.id == "ckpt"
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno} .{node.func.attr}(")
    assert offenders == []


def test_only_fit_centroids_holds_the_quantizer_policy():
    """``similarity._fit_centroids`` is the one coarse quantizer of the
    IVF, IVF-PQ, PQ and SemDeDup builds: across ``ops/similarity.py``,
    ``ops/pq.py`` and ``ops/dedup.py`` no other function imports
    MLlib's ``KMeans`` or raises ``quantizer must be ...``."""
    ops = pathlib.Path(klinker_spark.__file__).parent / "ops"
    owners = {"KMeans": [], "raise": []}
    for name in ("similarity.py", "pq.py", "dedup.py"):
        for top in ast.parse((ops / name).read_text(), name).body:
            where = f"{name}:{getattr(top, 'name', top.lineno)}"
            for node in ast.walk(top):
                if isinstance(node, ast.ImportFrom) and node.module == "pyspark.ml.clustering":
                    if any(a.name == "KMeans" for a in node.names):
                        owners["KMeans"].append(where)
                elif isinstance(node, ast.Raise) and any(
                    isinstance(c, ast.Constant) and "quantizer must be" in str(c.value)
                    for c in ast.walk(node)
                ):
                    owners["raise"].append(where)
    assert owners == {
        "KMeans": ["similarity.py:_fit_centroids"],
        "raise": ["similarity.py:_fit_centroids"],
    }
