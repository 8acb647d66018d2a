"""MinHash-LSH and TF-IDF blocker tests — invariant style (reference
``tests/test_blockers.py:221-279``): determinism under fixed seed,
self-similarity, threshold behavior, not hash equality.
"""

from __future__ import annotations

from klinker_spark.blockers.lsh import MinHashLSHBlocker, optimal_band_geometry
from klinker_spark.blockers.tfidf import TfIdfFilteredTokenBlocker


def test_optimal_band_geometry():
    b, r = optimal_band_geometry(0.5, 128)
    assert b * r <= 128 and b >= 1 and r >= 1
    # high threshold -> longer rows (more selective bands)
    b2, r2 = optimal_band_geometry(0.9, 128)
    assert r2 >= r


def test_lsh_identical_text_always_blocks(frame_a, frame_b, spark):
    # identical token sets share every band -> must co-block
    from klinker_spark.data.frames import EntityFrame

    left = EntityFrame.from_wide(
        spark.createDataFrame([("x1", "alpha beta gamma delta")], ["id", "val"]), "A"
    )
    right = EntityFrame.from_wide(
        spark.createDataFrame([("y1", "alpha beta gamma delta")], ["id", "val"]), "B"
    )
    bm = MinHashLSHBlocker(threshold=0.5, num_perm=32).assign(left, right)
    pairs = {tuple(r) for r in bm.pairs().collect()}
    assert ("x1", "y1") in pairs


def test_lsh_md5_mode_identical_text_blocks(spark):
    # cross-engine-deterministic mode: same invariants, md5 signatures
    from klinker_spark.data.frames import EntityFrame

    left = EntityFrame.from_wide(
        spark.createDataFrame([("x1", "alpha beta gamma delta")], ["id", "val"]), "A"
    )
    right = EntityFrame.from_wide(
        spark.createDataFrame([("y1", "alpha beta gamma delta"), ("y2", "zeta eta theta iota")], ["id", "val"]),
        "B",
    )
    bm = MinHashLSHBlocker(threshold=0.5, num_perm=32, hash_fn="md5").assign(left, right)
    pairs = {tuple(r) for r in bm.pairs().collect()}
    assert ("x1", "y1") in pairs and ("x1", "y2") not in pairs


def test_lsh_disjoint_text_rarely_blocks(spark):
    from klinker_spark.data.frames import EntityFrame

    left = EntityFrame.from_wide(
        spark.createDataFrame([("x1", "alpha beta gamma delta")], ["id", "val"]), "A"
    )
    right = EntityFrame.from_wide(
        spark.createDataFrame([("y1", "epsilon zeta theta iota")], ["id", "val"]), "B"
    )
    bm = MinHashLSHBlocker(threshold=0.5, num_perm=32).assign(left, right)
    assert bm.pairs().count() == 0


def test_lsh_deterministic(frame_a, frame_b):
    b1 = MinHashLSHBlocker(num_perm=32).assign(frame_a, frame_b)
    b2 = MinHashLSHBlocker(num_perm=32).assign(frame_a, frame_b)
    p1 = sorted(tuple(r) for r in b1.pairs().collect())
    p2 = sorted(tuple(r) for r in b2.pairs().collect())
    assert p1 == p2


def test_lsh_blocks_similar_people(frame_a, frame_b):
    # a3/b3 share most tokens (rebecca smith 04-12-1990 bulgaria)
    bm = MinHashLSHBlocker(threshold=0.4, num_perm=64).assign(frame_a, frame_b)
    pairs = {tuple(r) for r in bm.pairs().collect()}
    assert ("a3", "b3") in pairs


def test_tfidf_filtered_blocker(frame_a, frame_b):
    # threshold 0 keeps every token -> superset of plain token blocking keys
    bm_all = TfIdfFilteredTokenBlocker(threshold=0.0).assign(frame_a, frame_b)
    keys_all = {r["block_key"] for r in bm_all.df.collect()}
    assert {"smith", "usa", "1990", "rebecca"} <= keys_all
    # aggressive threshold prunes low-weight (common) tokens first
    bm_hi = TfIdfFilteredTokenBlocker(threshold=0.6).assign(frame_a, frame_b)
    keys_hi = {r["block_key"] for r in bm_hi.df.collect()}
    assert keys_hi <= keys_all


def test_nicdm_reduces_hub_dominance(spark):
    """NICDM sanity on a crafted hub: a vector close to everything gets
    its distances scaled UP (its local mean is tiny), demoting it in
    neighbor lists relative to raw cosine."""
    import numpy as np

    from klinker_spark.ops.similarity import brute_force_topk, nicdm_topk

    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 8)).astype("float32")
    hub = base.mean(axis=0) * 0.9  # near the centroid: a classic hub
    vecs = [(i, [float(x) for x in base[i]]) for i in range(20)] + [(99, [float(x) for x in hub])]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = emb.where("vec_id < 10")

    raw = brute_force_topk(queries, emb, k=3)
    scaled = nicdm_topk(queries, emb, k=3, n_candidates=5)
    hub_raw = raw.where("neighbor_id = 99").count()
    hub_scaled = scaled.where("neighbor_id = 99").count()
    assert hub_scaled <= hub_raw  # local scaling never promotes the hub
    assert scaled.groupBy("query_id").count().where("count != 3").count() == 0


def test_ivf_index_append(spark, tmp_path, monkeypatch):
    """Append = Faiss add(): new vectors land in existing centroid
    partitions, are findable (self-query returns self at sim 1), and
    no rows are lost or duplicated — with the literal probe kernel (8
    centroids) and, with PROBE_LITERAL_MAX_CENTROIDS patched to 2, the
    matmul kernel."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from klinker_spark.ops import similarity
    from klinker_spark.ops.similarity import (
        ann_topk_ivf_indexed,
        build_ivf_index,
        ivf_index_append,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    for literal_max in (similarity.PROBE_LITERAL_MAX_CENTROIDS, 2):
        monkeypatch.setattr(similarity, "PROBE_LITERAL_MAX_CENTROIDS", literal_max)
        path = str(tmp_path / f"ivf_app_{literal_max}")
        build_ivf_index(first, path, n_centroids=8)
        ivf_index_append(second, path)

        lists = spark.read.parquet(f"{path}/lists")
        assert lists.count() == emb.count()
        assert lists.select("id").distinct().count() == emb.count()

        q = second.limit(3)
        got = ann_topk_ivf_indexed(q, path, k=1, n_probe=8).collect()
        assert {r["query_id"] for r in got} == {r["vec_id"] for r in q.collect()}
        for r in got:
            assert r["neighbor_id"] == r["query_id"] and r["sim"] >= 0.999999


def test_indexed_query_writes_its_index_under_the_temp_dir(spark, tmp_path, monkeypatch):
    """A registered query's derived tables go under the temp directory,
    never under the package, which may be read-only."""
    import os
    import tempfile

    import klinker_spark
    from conftest import SF_DIR
    from klinker_spark import ckpt
    from klinker_spark.queries import QUERIES

    def package_files():
        root = os.path.dirname(klinker_spark.__file__)
        return {
            os.path.join(d, f)
            for d, subdirs, fs in os.walk(root)
            if "__pycache__" not in d
            for f in fs
        }

    before = package_files()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with ckpt.scope():
        QUERIES["ann_topk_ivf_indexed"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
    tag = os.path.basename(SF_DIR.rstrip("/"))
    assert os.path.isfile(tmp_path / f"klinker_ivf_{tag}" / "_MANIFEST.json")
    assert package_files() == before


def test_index_manifest_must_match_build_version_and_settings(tmp_path):
    """A persisted index is current only if its manifest records this
    build version and the caller's settings, not just the source data's
    fingerprint: an index an older build (or another quantizer) left in
    the temp directory is rebuilt, not served."""
    import json

    from klinker_spark.queries.ann import (
        INDEX_BUILD_VERSION,
        _index_current,
        _src_fingerprint,
        _write_index_manifest,
    )

    src = tmp_path / "src.parquet"
    src.write_bytes(b"rows")
    index = tmp_path / "index"
    index.mkdir()
    meta = dict(kind="ivf", n_centroids=16, quantizer="kmeans")

    old = {"src_fingerprint": _src_fingerprint(str(src)), **meta}
    (index / "_MANIFEST.json").write_text(json.dumps(old))
    assert not _index_current(str(index), str(src), **meta)

    _write_index_manifest(str(index), str(src), **meta)
    assert json.loads((index / "_MANIFEST.json").read_text())["build_version"] == INDEX_BUILD_VERSION
    assert _index_current(str(index), str(src), **meta)
    assert not _index_current(str(index), str(src), **{**meta, "quantizer": "hash_sample"})
    assert not _index_current(str(index), str(src), **{**meta, "n_centroids": 8})
