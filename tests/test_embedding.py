"""Embedding stack tests — shape/coverage/determinism invariants
(reference style: ``tests/test_blockbuilder.py:37-138``,
``tests/test_word_embedding.py:29-56``) plus exact-kNN goldens on fixed
2-D points.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from klinker_spark.data.frames import EntityFrame
from klinker_spark.embedding.blockbuilder import (
    ClusterBlockBuilder,
    KNNBlockBuilder,
    LSHKNNBlockBuilder,
)
from klinker_spark.embedding.blocker import EmbeddingBlocker
from klinker_spark.encoders.hashing import (
    HashingWordEmbedder,
    SIFHashingWordEmbedder,
    initialize_and_fill,
    remove_first_pc,
)
from klinker_spark.functions.vectors import topk_cosine_join

# Two well-separated 2-D clusters; left/right points interleaved.
LEFT_PTS = [("l0", [1.0, 0.0]), ("l1", [0.9, 0.1]), ("l2", [0.0, 1.0]), ("l3", [0.1, 0.9])]
RIGHT_PTS = [("r0", [1.0, 0.05]), ("r1", [0.95, 0.0]), ("r2", [0.05, 1.0]), ("r3", [0.0, 0.95])]


@pytest.fixture(scope="module")
def left_emb(spark):
    return spark.createDataFrame(LEFT_PTS, ["id", "vector"])


@pytest.fixture(scope="module")
def right_emb(spark):
    return spark.createDataFrame(RIGHT_PTS, ["id", "vector"])


def test_topk_cosine_exact(left_emb, right_emb):
    nn = topk_cosine_join(left_emb, right_emb, k=2)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in nn.collect()
    }
    # l0=(1,0): nearest r1=(0.95,0) cos=1.0, then r0
    assert got[("l0", 1)] == "r1" and got[("l0", 2)] == "r0"
    # l2=(0,1): nearest r3=(0,0.95)
    assert got[("l2", 1)] == "r3" and got[("l2", 2)] == "r2"


def test_knn_blocks_shape(left_emb, right_emb):
    for builder in (
        KNNBlockBuilder(k=2),
        KNNBlockBuilder(k=2, hubness="csls"),
        LSHKNNBlockBuilder(k=2),
    ):
        bm = builder.build_blocks(left_emb, right_emb, "A", "B")
        rows = bm.df.collect()
        if isinstance(builder, KNNBlockBuilder):
            assert len(rows) == 4  # one block per left entity
            for r in rows:
                assert len(r["A"]) == 1 and len(r["B"]) == 2  # (1, k) shape
        # the array layout and the key-frame pairs describe the same blocks
        exploded = {(a, b) for r in rows for a in r["A"] for b in r["B"]}
        assert exploded and exploded == {tuple(r) for r in bm.pairs().collect()}


@pytest.mark.parametrize(
    "query",
    [
        "embedding_knn_blocking",
        "gcn_embedding_blocking",
        "lightea_embedding_blocking",
        "lightea_propagation_md5",
    ],
)
def test_embedding_blocking_queries_are_cache_free(spark, query):
    """The embedding block path and the propagation encoders
    (``lightea_propagation_md5`` runs LightEAEncoder alone) persist
    nothing: a full write of the query adds no persistent RDD, without
    any release_all.  (Compared as id sets: earlier tests' caches may
    be cleaned up meanwhile.)"""
    from conftest import SF_DIR

    from klinker_spark.queries import QUERIES

    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    QUERIES[query](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) - before == set()


def test_lsh_knn_matches_same_cluster(left_emb, right_emb):
    bm = LSHKNNBlockBuilder(k=2, num_hash_tables=4).build_blocks(
        left_emb, right_emb, "A", "B"
    )
    got = {r["block_key"]: set(r["B"]) for r in bm.df.collect()}
    # every left point's neighbors come from its own cluster
    for lid in ("l0", "l1"):
        assert got.get(lid, set()) <= {"r0", "r1"}
    for lid in ("l2", "l3"):
        assert got.get(lid, set()) <= {"r2", "r3"}


def test_cluster_block_builder(left_emb, right_emb):
    bm = ClusterBlockBuilder(n_clusters=2).build_blocks(left_emb, right_emb, "A", "B")
    got = {r["block_key"]: (set(r["A"]), set(r["B"])) for r in bm.df.collect()}
    clusters = sorted(got.values(), key=lambda t: sorted(t[0]))
    assert clusters[0] == ({"l0", "l1"}, {"r0", "r1"})
    assert clusters[1] == ({"l2", "l3"}, {"r2", "r3"})


def test_hashing_embedder_deterministic(spark):
    conc = spark.createDataFrame([("e1", "hello world"), ("e2", "hello world")], ["id", "text"])
    emb = HashingWordEmbedder(dim=8).encode(conc)
    vecs = {r["id"]: r["vector"] for r in emb.collect()}
    assert vecs["e1"] == vecs["e2"]  # same text -> same vector
    assert len(vecs["e1"]) == 8


def test_hashing_embedder_md5_mode(spark):
    import hashlib

    conc = spark.createDataFrame([("e1", "hello")], ["id", "text"])
    emb = HashingWordEmbedder(dim=4, min_token_length=1, hash_fn="md5").encode(conc)
    vec = emb.collect()[0]["vector"]
    # component d reproducible outside Spark: first 6 hex digits of md5("d:token")
    expect = [
        int(hashlib.md5(f"{d}:hello".encode()).hexdigest()[:6], 16) / (1 << 23) - 1.0
        for d in range(4)
    ]
    assert vec == pytest.approx(expect)


def test_sif_embedder_downweights_common_tokens(spark):
    # 'common' appears everywhere; e1/e2 differ only in rare tokens
    rows = [("e1", "common rareone"), ("e2", "common raretwo"), ("e3", "common common common")]
    conc = spark.createDataFrame(rows, ["id", "text"])
    uni = HashingWordEmbedder(dim=16).encode(conc)
    sif = SIFHashingWordEmbedder(dim=16).encode(conc)
    assert uni.count() == sif.count() == 3
    # SIF vector differs from uniform mean when frequencies are skewed
    u = {r["id"]: r["vector"] for r in uni.collect()}
    s = {r["id"]: r["vector"] for r in sif.collect()}
    assert u["e1"] != s["e1"]


def test_remove_first_pc_changes_vectors(spark):
    emb = spark.createDataFrame(
        [("e1", [1.0, 2.0, 3.0]), ("e2", [2.0, 4.0, 6.1]), ("e3", [1.0, 0.0, 0.0])],
        ["id", "vector"],
    )
    out = {r["id"]: r["vector"] for r in remove_first_pc(emb).collect()}
    assert len(out) == 3 and len(out["e1"]) == 3
    # e1/e2 are nearly collinear with the first PC -> projected near zero
    assert sum(x * x for x in out["e2"]) < 0.1


def test_initialize_and_fill(spark):
    all_ids = spark.createDataFrame([("e1",), ("e2",), ("e3",)], ["id"])
    known = spark.createDataFrame([("e1", [9.0] * 4)], ["id", "vector"])
    out = {r["id"]: r["vector"] for r in initialize_and_fill(all_ids, known, dim=4).collect()}
    assert out["e1"] == [9.0] * 4
    assert len(out["e2"]) == 4 and out["e2"] != out["e3"]  # distinct deterministic init


def test_embedding_blocker_end_to_end(frame_a, frame_b, tmp_path):
    blocker = EmbeddingBlocker(
        frame_encoder=HashingWordEmbedder(dim=16),
        block_builder=KNNBlockBuilder(k=2),
        save_dir=str(tmp_path),
    )
    bm = blocker.assign(frame_a, frame_b)
    assert bm.df.count() == 5
    # cache created and reused
    import os

    assert os.path.exists(str(tmp_path / "A_encoded.parquet"))
    bm2 = blocker.assign(frame_a, frame_b)
    assert bm2.df.count() == 5


def test_reduce_dim_pca_and_random_projection(spark):
    import numpy as np

    from klinker_spark.encoders.hashing import reduce_dim

    rng = np.random.RandomState(3)
    mk = lambda pref, n: spark.createDataFrame(  # noqa: E731
        [(f"{pref}{i}", [float(x) for x in rng.randn(8)]) for i in range(n)],
        "id string, vector array<double>",
    )
    l, r = mk("l", 12), mk("r", 9)
    for method in ("pca", "random_projection"):
        lo, ro = reduce_dim(l, r, 3, method=method)
        lrows = {x["id"]: x["vector"] for x in lo.collect()}
        rrows = {x["id"]: x["vector"] for x in ro.collect()}
        assert len(lrows) == 12 and len(rrows) == 9
        assert all(len(v) == 3 for v in lrows.values())
        # deterministic: second call identical
        lo2, _ = reduce_dim(l, r, 3, method=method)
        assert {x["id"]: x["vector"] for x in lo2.collect()} == lrows
    # guards (ref pretrained.py:538-546)
    same_l, same_r = reduce_dim(l, r, 8)
    assert same_l is l and same_r is r
    import pytest as _pytest

    with _pytest.raises(ValueError, match="higher"):
        reduce_dim(l, r, 16)
    with _pytest.raises(ValueError, match="method"):
        reduce_dim(l, r, 3, method="tsne")


def test_reduce_dim_umap_requires_library(spark):
    import pytest as _pytest

    try:
        import umap  # noqa: F401

        _pytest.skip("umap unexpectedly installed")
    except ImportError:
        pass
    from klinker_spark.encoders.hashing import reduce_dim

    l = spark.createDataFrame([("a", [1.0, 2.0])], "id string, vector array<double>")
    with _pytest.raises(ImportError, match="umap-learn"):
        reduce_dim(l, l, 1, method="umap")


def test_reduce_dim_pca_is_centered(spark):
    """PCA must project (v - mean), not raw v: the reduced vectors
    match numpy's centered projection exactly (fit AND transform
    centered — an uncentered transform adds a constant offset)."""
    import numpy as np

    from klinker_spark.encoders.hashing import reduce_dim

    rng = np.random.RandomState(9)
    mat = rng.randn(20, 6) + 7.0  # strongly non-zero mean
    df = spark.createDataFrame(
        [(f"v{i}", [float(x) for x in mat[i]]) for i in range(20)],
        "id string, vector array<double>",
    )
    lo, _ = reduce_dim(df, df, 2, method="pca", sample_n=100)
    got = {r["id"]: np.array(r["vector"]) for r in lo.collect()}
    # replicate: sample = union(df, df) rows (each row twice) — the
    # mean/components are unaffected by duplication
    mean = mat.mean(axis=0)
    _, _, vt = np.linalg.svd(mat - mean, full_matrices=False)
    comps = vt[:2]
    expect = (mat - mean) @ comps.T
    actual = np.stack([got[f"v{i}"] for i in range(20)])
    # SVD component signs are arbitrary (the engine's sample row order
    # differs) — align each component's sign before comparing
    signs = np.sign(np.sum(expect * actual, axis=0))
    np.testing.assert_allclose(actual * signs, expect, atol=1e-9)
    # the centering itself is sign-free: an uncentered transform would
    # shift every projection by the constant mean·comp ≈ 18 here
    assert abs(actual.mean()) < 1.0


def test_reduce_dim_pca_preserves_separation(spark):
    """Two well-separated groups stay separated after PCA to 2 dims."""
    import numpy as np

    from klinker_spark.encoders.hashing import reduce_dim

    rng = np.random.RandomState(5)
    a = rng.randn(10, 8) * 0.1
    b = rng.randn(10, 8) * 0.1 + 5.0
    df = spark.createDataFrame(
        [(f"a{i}", [float(x) for x in a[i]]) for i in range(10)]
        + [(f"b{i}", [float(x) for x in b[i]]) for i in range(10)],
        "id string, vector array<double>",
    )
    lo, _ = reduce_dim(df, df, 2, method="pca")
    got = {r["id"]: np.array(r["vector"]) for r in lo.collect()}
    amean = np.mean([got[f"a{i}"] for i in range(10)], axis=0)
    bmean = np.mean([got[f"b{i}"] for i in range(10)], axis=0)
    within = max(
        max(np.linalg.norm(got[f"a{i}"] - amean) for i in range(10)),
        max(np.linalg.norm(got[f"b{i}"] - bmean) for i in range(10)),
    )
    assert np.linalg.norm(amean - bmean) > 3 * within
