"""Training-data pipeline operator tests on the real documents /
embeddings testdata plus hand-built micro fixtures.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from klinker_spark.ops.dedup import (
    embedding_cosine_dedup,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_dedup,
    simhash_dedup,
)
from klinker_spark.ops.similarity import ann_topk_ivf, ann_topk_lsh, brute_force_topk
from klinker_spark.ops.textstats import (
    doc_fingerprint,
    langid_by_profile,
    quality_score,
    tfidf_top_tokens,
    token_count,
    token_frequencies,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    far = "completely different content about spark query engines at scale"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], ["doc_id", "text"]
    )


def test_exact_dedup(dup_docs):
    groups = exact_dedup(dup_docs).collect()
    dup_group = [r for r in groups if r["n_docs"] > 1]
    assert len(dup_group) == 1
    assert dup_group[0]["n_docs"] == 2 and dup_group[0]["keep_id"] == 1


def test_minhash_dedup_finds_near_dup(dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_dedup(dup_docs, num_perm=64, bands=32).collect()
    }
    assert (1, 2) in pairs  # identical
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_minhash_dedup_md5_mode(dup_docs):
    # deterministic md5 permutations: same semantics as the xxhash64
    # path, and stable across runs (no seed dependence)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_dedup(dup_docs, num_perm=32, bands=16, hash_fn="md5").collect()
    }
    assert (1, 2) in pairs
    assert (1, 4) not in pairs and (3, 4) not in pairs
    again = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_dedup(dup_docs, num_perm=32, bands=16, hash_fn="md5").collect()
    }
    assert pairs == again


def test_minhash_dedup_precomputed_shingles_identical(dup_docs):
    """The shingles= pass-through (skips the internal tokenize+shingle
    pass when the caller already built the per-doc shingle sets) must
    yield the exact pair set of the internal pipeline, for both hash
    modes — including when the caller's frame is within-row distinct
    and filtered to non-empty sets (the audit's shape)."""
    from pyspark.sql import functions as F

    from klinker_spark.functions.text import tokenize, word_shingles

    sh = dup_docs.select(
        "doc_id",
        F.array_distinct(word_shingles(tokenize("text", 1, []), 3)).alias("sh"),
    ).where(F.size("sh") > 0)
    for fn in ("xxhash64", "md5"):
        internal = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_dedup(
                dup_docs, num_perm=32, bands=16, hash_fn=fn
            ).collect()
        }
        passed = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_dedup(
                dup_docs, num_perm=32, bands=16, hash_fn=fn, shingles=sh
            ).collect()
        }
        assert internal == passed


def test_cosine_signlsh_dedup(spark):
    from klinker_spark.ops.dedup import cosine_signlsh_dedup

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.5, 0.2, 0.1] * 4),
            (2, [0.99, 0.51, 0.2, 0.1] * 4),  # near-dup of 1, same signs
            (3, [-1.0, -0.5, 0.2, 0.1] * 4),  # sign-disjoint in every band
        ],
        ["vec_id", "embedding"],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["sim"]
        for r in cosine_signlsh_dedup(emb, threshold=0.9, sign_bits=16, bands=4).collect()
    }
    assert set(got) == {(1, 2)} and got[(1, 2)] > 0.99


def test_simhash_dedup(dup_docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_dedup(dup_docs).collect()}
    assert pairs[(1, 2)] == 0  # identical fingerprints
    assert (1, 4) not in pairs


def test_simhash_dedup_md5_mode(dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_dedup(dup_docs, bits=32, hash_fn="md5").collect()
    }
    assert pairs[(1, 2)] == 0  # identical docs, identical fingerprints
    assert (1, 4) not in pairs


def test_simhash_narrow_bits_nonnegative(dup_docs):
    # regression: the signed-bigint wrap must apply only to bit 63 —
    # a 16-bit fingerprint is a plain value in [0, 65535]
    from klinker_spark.functions.text import simhash, tokenize

    fps = simhash(dup_docs, tokenize("text", 1, []), id_col="doc_id", bits=16).collect()
    assert fps and all(0 <= r["fp"] <= 0xFFFF for r in fps)


def test_ngram_jaccard_dedup(dup_docs):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_dedup(dup_docs, threshold=0.3).collect()}
    assert got[(1, 2)] == pytest.approx(1.0)
    assert 0.3 <= got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_embedding_cosine_dedup(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in embedding_cosine_dedup(emb, threshold=0.99).collect()}
    assert pairs == {(1, 2)}


def test_embedding_cosine_dedup_symmetric_candidates(spark):
    """A pair that appears ONLY in the higher-id row's top-k list must
    survive (round-2 verdict #3: the old query_id < neighbor_id filter
    dropped it).  Angles: a=0°, c=10°, b=-20° → with k=2 (self + one),
    a's list is {a, c} but b's list is {b, a}; (a, b) exists only via
    the b→a direction."""
    import math

    def at(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    emb = spark.createDataFrame(
        [(1, at(0.0)), (2, at(-20.0)), (3, at(10.0))], ["vec_id", "embedding"]
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in embedding_cosine_dedup(emb, threshold=0.8, k=2).collect()}
    assert (1, 2) in pairs  # only listed by row 2 (cos 20° ≈ 0.94)
    assert (1, 3) in pairs  # listed by rows 1 and 3 — exactly once
    rows = embedding_cosine_dedup(emb, threshold=0.8, k=2).collect()
    assert len(rows) == len(pairs)  # distinct collapsed the two directions


def test_brute_force_topk_real_embeddings(embeddings):
    queries = embeddings.where(F.col("vec_id") % 100 == 0)
    nn = brute_force_topk(queries, embeddings, k=3)
    rows = nn.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        assert len(rs) == 3
        # rank 1 is the query itself (cosine 1.0)
        best = min(rs, key=lambda r: r["rank"])
        assert best["neighbor_id"] == q


def test_topk_matmul_matches_expr(embeddings):
    queries = embeddings.where(F.col("vec_id") % 50 == 0)
    mm = brute_force_topk(queries, embeddings, k=4, impl="matmul")
    ex = brute_force_topk(queries, embeddings, k=4, impl="expr")
    a = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in mm.collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ex.collect()}
    assert a == b
    sa = {(r["query_id"], r["rank"]): r["sim"] for r in mm.collect()}
    sb = {(r["query_id"], r["rank"]): r["sim"] for r in ex.collect()}
    for key, s in sa.items():
        assert abs(s - sb[key]) < 1e-9


def test_topk_sharded_matches_expr(embeddings):
    # force several index shards so the per-partition running top-k +
    # merge window actually exercises the multi-shard path (n_shards
    # also PINS the sharded shape — the r11 size gate would otherwise
    # route this toy index to the matmul kernel)
    from klinker_spark.functions.vectors import topk_cosine_sharded

    queries = embeddings.where(F.col("vec_id") % 50 == 0)
    sel = lambda df: df.selectExpr("vec_id as id", "embedding as vector")  # noqa: E731
    sh = topk_cosine_sharded(sel(queries), sel(embeddings), k=4, n_shards=7)
    ex = brute_force_topk(queries, embeddings, k=4, impl="expr")
    a = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in sh.collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ex.collect()}
    assert a == b


def test_topk_sharded_multichunk_spill_matches_expr(embeddings):
    """n_query_chunks > 1 exercises the spill-and-replay path: every
    index partition is scanned once, spilled, and replayed per query
    chunk — results must be identical to the expr oracle path."""
    from klinker_spark.functions.vectors import topk_cosine_sharded

    queries = embeddings.where(F.col("vec_id") % 50 == 0)
    sel = lambda df: df.selectExpr("vec_id as id", "embedding as vector")  # noqa: E731
    sh = topk_cosine_sharded(
        sel(queries), sel(embeddings.repartition(5)), k=4, n_query_chunks=3
    )
    ex = brute_force_topk(queries, embeddings, k=4, impl="expr")
    a = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in sh.collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ex.collect()}
    assert a == b


def test_topk_sharded_partition_smaller_than_k(spark):
    from klinker_spark.functions.vectors import topk_cosine_sharded

    # 3 index rows over 5 partitions (some empty, all smaller than k)
    ix = spark.createDataFrame(
        [("x", [1.0, 0.0]), ("y", [1.0, 1.0]), ("z", [0.0, 1.0])], ["id", "vector"]
    ).repartition(5)
    q = spark.createDataFrame([("q1", [1.0, 0.0])], ["id", "vector"])
    # n_query_chunks pins the sharded shape past the r11 size gate
    out = topk_cosine_sharded(q, ix, k=10, n_query_chunks=1).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [("x", 1), ("y", 2), ("z", 3)]


def test_topk_matmul_ties_and_string_ids(spark):
    from klinker_spark.functions.vectors import topk_cosine_matmul

    # b and c are identical vectors -> tie broken by id ASC at rank 2/3
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("c", [1.0, 1.0]), ("b", [1.0, 1.0]), ("d", [0.0, 1.0])],
        ["id", "vector"],
    )
    out = topk_cosine_matmul(df.where(F.col("id") == "a"), df, k=3).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [("a", 1), ("b", 2), ("c", 3)]


def test_topk_matmul_empty_sides(spark):
    from klinker_spark.functions.vectors import topk_cosine_matmul

    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["id", "vector"])
    none = df.where(F.lit(False))
    assert topk_cosine_matmul(df, none, k=2).count() == 0
    assert topk_cosine_matmul(none, df, k=2).count() == 0


def test_ann_lsh_recall_vs_exact(embeddings):
    queries = embeddings.where(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(queries, embeddings, k=5)
    approx = ann_topk_lsh(queries, embeddings, k=5, num_hash_tables=6)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # decent recall on clustered synthetic data
    assert len(e & a) / len(e) > 0.5


def test_ann_signlsh_recall_and_determinism(embeddings):
    from klinker_spark.ops.similarity import ann_topk_signlsh

    queries = embeddings.where(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(queries, embeddings, k=5)
    approx = ann_topk_signlsh(queries, embeddings, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) > 0.5  # clustered synthetic data
    again = {(r["query_id"], r["neighbor_id"]) for r in ann_topk_signlsh(queries, embeddings, k=5).collect()}
    assert a == again  # no sampled hyperplanes -> bit-stable


def test_ann_ivf_recall_vs_exact(embeddings):
    queries = embeddings.where(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(queries, embeddings, k=5)
    approx = ann_topk_ivf(queries, embeddings, k=5, n_centroids=8, n_probe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) > 0.6


def test_ann_ivf_hash_sample_quantizer_deterministic(embeddings):
    """hash_sample quantizer: fully deterministic IVF — two runs agree
    bit-for-bit, and recall holds (sample centroids ≈ kmeans init)."""
    queries = embeddings.where(F.col("vec_id") % 100 == 0)
    run = lambda: {  # noqa: E731
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ann_topk_ivf(
            queries, embeddings, k=5, n_centroids=8, n_probe=3, quantizer="hash_sample"
        ).collect()
    }
    a = run()
    assert a == run()
    exact = brute_force_topk(queries, embeddings, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    # sample centroids trail kmeans a little — same bar as the LSH tests
    assert len({(q, n) for q, n, _ in a} & e) / len(e) > 0.5


def test_probe_centroids_matmul_matches_literal(embeddings):
    """The broadcast-matmul probe kernel (large-centroid-count path)
    must select the same probes as the literal Catalyst expression."""
    from klinker_spark.ops.similarity import _probe_centroids, _probe_centroids_matmul

    rows = embeddings.orderBy("vec_id").limit(12).collect()
    centroids = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)]
    q = embeddings.where(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id as query_id", "cast(embedding as array<double>) as qv"
    )
    lit = {(r["query_id"], r["centroid_id"]) for r in _probe_centroids(q, centroids, 3).collect()}
    mat = {(r["query_id"], r["centroid_id"]) for r in _probe_centroids_matmul(q, centroids, 3).collect()}
    assert lit == mat


def _np_hubness_fixture():
    """Deterministic small embedding set with a planted hub (the
    normalized mean direction is close to everything)."""
    rng = np.random.RandomState(7)
    ix = rng.randn(30, 8)
    ix[0] = ix[1:].mean(axis=0)  # hub
    q = rng.randn(6, 8)
    return q, ix


def _np_topk(sims, ids, k):
    out = []
    for r in range(sims.shape[0]):
        order = sorted(range(len(ids)), key=lambda j: (-sims[r, j], ids[j]))[:k]
        out.append(order)
    return out


def test_csls_matches_numpy_reference(spark):
    """csls_topk == the CSLS definition computed directly in numpy."""
    from klinker_spark.ops.similarity import csls_topk

    qm, im = _np_hubness_fixture()
    C, K = 4, 2
    qu = qm / np.linalg.norm(qm, axis=1)[:, None]
    iu = im / np.linalg.norm(im, axis=1)[:, None]
    sims = qu @ iu.T
    rsims = sims.T  # reverse search: index against the query set
    fwd = _np_topk(sims, list(range(im.shape[0])), C)
    rev = _np_topk(rsims, list(range(qm.shape[0])), C)
    r_fwd = [np.mean([sims[r, j] for j in fwd[r]]) for r in range(qm.shape[0])]
    r_rev = [np.mean([rsims[x, j] for j in rev[x]]) for x in range(im.shape[0])]
    expect = {}
    for r in range(qm.shape[0]):
        scored = [(2 * sims[r, j] - r_fwd[r] - r_rev[j], j) for j in fwd[r]]
        top = sorted(scored, key=lambda t: (-t[0], t[1]))[:K]
        expect[r] = [(j, round(s, 6)) for s, j in top]

    qdf = spark.createDataFrame(
        [(i, [float(x) for x in qm[i]]) for i in range(qm.shape[0])],
        "vec_id int, embedding array<double>",
    )
    idf = spark.createDataFrame(
        [(i, [float(x) for x in im[i]]) for i in range(im.shape[0])],
        "vec_id int, embedding array<double>",
    )
    got = {}
    for row in csls_topk(qdf, idf, k=K, n_candidates=C).collect():
        got.setdefault(row["query_id"], []).append(
            (row["neighbor_id"], round(row["csls"], 6))
        )
    assert got == expect


def test_mutual_rank_matches_numpy_and_demotes_hub(spark):
    from klinker_spark.ops.similarity import brute_force_topk, mutual_rank_topk

    qm, im = _np_hubness_fixture()
    C, K = 4, 2
    qu = qm / np.linalg.norm(qm, axis=1)[:, None]
    iu = im / np.linalg.norm(im, axis=1)[:, None]
    sims = qu @ iu.T
    fwd = _np_topk(sims, list(range(im.shape[0])), C)
    rev = _np_topk(sims.T, list(range(qm.shape[0])), C)
    expect = {}
    for r in range(qm.shape[0]):
        scored = []
        for pos, j in enumerate(fwd[r]):
            rrank = rev[j].index(r) + 1 if r in rev[j] else C + 1
            scored.append((pos + 1 + rrank, j))
        expect[r] = [j for _, j in sorted(scored, key=lambda t: (t[0], t[1]))[:K]]

    qdf = spark.createDataFrame(
        [(i, [float(x) for x in qm[i]]) for i in range(qm.shape[0])],
        "vec_id int, embedding array<double>",
    )
    idf = spark.createDataFrame(
        [(i, [float(x) for x in im[i]]) for i in range(im.shape[0])],
        "vec_id int, embedding array<double>",
    )
    got = {}
    for row in mutual_rank_topk(qdf, idf, k=K, n_candidates=C).collect():
        got.setdefault(row["query_id"], []).append(row["neighbor_id"])
    assert got == expect
    # hubness invariant: the planted hub (id 0) never wins MORE often
    # after the reduction than under plain kNN
    plain = brute_force_topk(qdf, idf, k=K).collect()
    hub_plain = sum(1 for r in plain if r["neighbor_id"] == 0)
    hub_reduced = sum(1 for rows in got.values() for j in rows if j == 0)
    assert hub_reduced <= hub_plain


def test_knn_blockbuilder_hubness_option(spark):
    from klinker_spark.embedding.blockbuilder import KNNBlockBuilder

    qm, im = _np_hubness_fixture()
    l = spark.createDataFrame(
        [(f"l{i}", [float(x) for x in qm[i]]) for i in range(qm.shape[0])],
        "id string, vector array<double>",
    )
    r = spark.createDataFrame(
        [(f"r{i}", [float(x) for x in im[i]]) for i in range(im.shape[0])],
        "id string, vector array<double>",
    )
    bm = KNNBlockBuilder(k=2, hubness="csls", n_candidates=4).build_blocks(l, r, "L", "R")
    assert bm.block_pairs().count() == qm.shape[0] * 2
    with pytest.raises(ValueError, match="hubness"):
        KNNBlockBuilder(hubness="nope")


def test_ivf_indexed_build_query(embeddings, tmp_path):
    from klinker_spark.ops.similarity import ann_topk_ivf_indexed, build_ivf_index

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, n_centroids=8)
    queries = embeddings.where(F.col("vec_id") % 100 == 0)
    approx = ann_topk_ivf_indexed(queries, path, k=5, n_probe=3)
    exact = brute_force_topk(queries, embeddings, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) > 0.6
    # the on-disk layout is one directory per inverted list
    import os

    assert any(d.startswith("centroid_id=") for d in os.listdir(f"{path}/lists"))


def _read_ivf_index(spark, path):
    cents = sorted(
        (int(r["cid"]), [float(x) for x in r["cv"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    return cents, spark.read.parquet(f"{path}/lists")


def test_ivf_kmeans_build_is_reproducible(spark, embeddings, tmp_path):
    """Three kmeans builds of one frame in one session write the same
    centroids and the same lists: the fit is seeded and sees the whole
    input, no sample drawn under a fresh seed."""
    from klinker_spark.ops.similarity import build_ivf_index

    def build(i):
        path = str(tmp_path / f"ivf{i}")
        build_ivf_index(embeddings, path, n_centroids=16, quantizer="kmeans")
        cents, lists = _read_ivf_index(spark, path)
        return cents, sorted(tuple(r) for r in lists.select("centroid_id", "id").collect())

    first = build(0)
    assert build(1) == first
    assert build(2) == first


def test_ivf_kmeans_lists_match_the_query_probe(spark, embeddings, tmp_path):
    """Every vector of a kmeans-built index sits in the list the query
    probe picks for it first (cosine, ties cid ASC), so a query for an
    indexed vector always searches that vector's list."""
    from klinker_spark.ops.similarity import _probe_centroids, build_ivf_index

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, n_centroids=16, quantizer="kmeans")
    cents, lists = _read_ivf_index(spark, path)
    probed = _probe_centroids(
        lists.select(F.col("id").alias("query_id"), F.col("vector").alias("qv")), cents, 1
    )
    listed = lists.select(F.col("id").alias("query_id"), F.col("centroid_id").alias("listed"))
    joined = probed.join(listed, "query_id")
    assert joined.count() == embeddings.count()
    assert joined.where(F.col("centroid_id") != F.col("listed")).count() == 0


def test_token_count(docs):
    tc = (
        token_count(docs)
        .withColumnRenamed("doc_id", "tc_id")
        .withColumnRenamed("n_chars", "tc_chars")
    )
    joined = tc.join(docs, tc.tc_id == docs.doc_id)
    assert joined.where(F.col("tc_chars") != F.length("text")).count() == 0
    assert joined.where(F.col("n_tokens") <= 0).count() == 0


def test_token_count_bpe_segmentation(spark):
    # BPE pre-tokens: letter runs / digit runs / punct runs split apart,
    # whitespace never counted
    docs = spark.createDataFrame(
        [(1, "Hello, world! x2 isn't    it... 3.14")], ["doc_id", "text"]
    )
    r = token_count(docs).collect()[0]
    # [Hello][,][world][!][x][2][isn]['][t][it][...][3][.][14] = 14
    assert r["n_bpe_tokens"] == 14
    # single-space split: 6 words + 3 empties from the 4-space run
    assert r["n_tokens"] == 9


def test_quality_score_ranges(docs):
    q = quality_score(docs)
    bad = q.where(
        (F.col("stopword_ratio") < 0) | (F.col("stopword_ratio") > 1)
        | (F.col("distinct_ratio") <= 0) | (F.col("distinct_ratio") > 1)
        | (F.col("score") < 0) | (F.col("score") > 1)
    ).count()
    assert bad == 0
    assert q.count() == docs.count()


def test_token_frequencies(docs):
    tf = token_frequencies(docs)
    row = tf.where(F.col("token") == "spark").collect()
    assert row and row[0]["freq"] >= row[0]["doc_freq"] > 0


def test_tfidf_top_tokens(docs):
    top = tfidf_top_tokens(docs, top_n=3)
    sizes = top.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert sizes <= 3
    assert top.count() > 0


def test_doc_fingerprint_order_invariant(spark):
    d = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "other words")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(d).collect()}
    assert fp[1] == fp[2] != fp[3]


def test_langid_covers_all_docs(docs):
    pred = langid_by_profile(docs)
    assert pred.count() == docs.count()
    langs = {r["pred_lang"] for r in pred.select("pred_lang").distinct().collect()}
    real = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert langs <= real


def test_topk_sharded_empty_sides(spark):
    from klinker_spark.functions.vectors import topk_cosine_sharded

    emb = spark.createDataFrame(
        [("x", [1.0, 0.0]), ("y", [0.0, 1.0])], ["id", "vector"]
    )
    empty = emb.where(F.lit(False))
    assert topk_cosine_sharded(empty, emb, k=3).count() == 0
    assert topk_cosine_sharded(emb, empty, k=3).count() == 0


def test_dbscan_degenerate_inputs(spark):
    from klinker_spark.ops.clustering import dbscan_labels

    one = spark.createDataFrame([("a", [1.0, 0.0])], "id string, vector array<double>")
    got = {r["id"]: r["label"] for r in dbscan_labels(one, min_pts=2).collect()}
    assert got == {"a": "-1"}  # alone -> noise
    got1 = {r["id"]: r["label"] for r in dbscan_labels(one, min_pts=1).collect()}
    assert got1 == {"a": "a"}  # min_pts=1: every point is its own core
    empty = one.where(F.lit(False))
    assert dbscan_labels(empty).count() == 0


def test_asof_join_semantics(spark):
    from klinker_spark.ops.temporal import asof_join

    l = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 250), (3, "u", 50), (4, "v", 100)],
        "event_id int, user_id string, ts_ms long",
    )
    r = spark.createDataFrame(
        [("u", 100, 1.0), ("u", 100, 3.0), ("u", 200, 5.0), ("w", 10, 9.0)],
        "user_id string, ts_ms long, value double",
    )
    got = {
        x["event_id"]: (x["matched_ts"], x["matched_value"])
        for x in asof_join(l, r, "user_id", "ts_ms", "value").collect()
    }
    assert got[1] == (100, 3.0)  # equality matches; (u,100) dups -> max
    assert got[2] == (200, 5.0)  # latest earlier row
    assert got[3] == (None, None)  # nothing at or before ts 50
    assert got[4] == (None, None)  # no right rows for v at all
    # tolerance: match older than 60 units is nulled (boundary kept)
    tol = {
        x["event_id"]: (x["matched_ts"], x["matched_value"])
        for x in asof_join(l, r, "user_id", "ts_ms", "value", tolerance=50).collect()
    }
    assert tol[2] == (200, 5.0)  # 250-200 = 50 <= 50 boundary kept
    assert tol[1] == (100, 3.0)  # exact-ts match, delta 0


def test_range_join_matches_naive(spark):
    import itertools
    import random

    from klinker_spark.ops.temporal import range_join

    rnd = random.Random(11)
    lrows = [(i, rnd.choice("ab"), rnd.randrange(0, 1000)) for i in range(40)]
    rrows = [(i, rnd.choice("ab"), rnd.randrange(0, 1000)) for i in range(40)]
    l = spark.createDataFrame(lrows, "event_id int, user_id string, ts_ms long")
    r = spark.createDataFrame(rrows, "event_id int, user_id string, ts_ms long")
    lo, up = 5, 123  # deliberately not a multiple of anything
    got = {
        (x["l_event_id"], x["r_event_id"])
        for x in range_join(l, r, "user_id", "ts_ms", lo, up).collect()
    }
    want = {
        (li, ri)
        for (li, lk, lt), (ri, rk, rt) in itertools.product(lrows, rrows)
        if lk == rk and lo <= rt - lt <= up
    }
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="upper"):
        range_join(l, r, "user_id", "ts_ms", 10, 5)


def test_hypertable_rollup_partials_compose(spark):
    from klinker_spark.ops.rollup import hypertable_rollup

    rows = [(i, "u" if i % 3 else "v", float(i % 7), i * 17 % 1000) for i in range(200)]
    ev = spark.createDataFrame(rows, "event_id int, user_id string, value double, ts_ms long")
    out = hypertable_rollup(ev, "ts_ms", ["user_id"], "value", [10, 100, 1000]).collect()
    got = {(r["granularity"], r["bucket"], r["user_id"]): (r["n"], r["sum_value"], r["min_value"], r["max_value"]) for r in out}
    # naive recomputation per granularity directly from raw
    import collections

    for g in (10, 100, 1000):
        agg = collections.defaultdict(list)
        for _, u, v, t in rows:
            agg[(g, (t // g) * g, u)].append(v)
        for key, vals in agg.items():
            n, s, mn, mx = got[key]
            assert n == len(vals) and abs(s - sum(vals)) < 1e-9
            assert mn == min(vals) and mx == max(vals)
    assert len(got) == sum(1 for _ in got)  # no duplicate keys
    with pytest.raises(ValueError, match="multiple"):
        hypertable_rollup(ev, "ts_ms", ["user_id"], "value", [10, 25])


def test_kmv_distinct_sketch(spark):
    import hashlib

    from klinker_spark.ops.sketches import kmv_distinct

    vals = [f"tok{i}" for i in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "tok string")
    row = kmv_distinct(df, "tok", k=128).first()
    assert row["k_used"] == 128
    # python replication of the sketch
    fracs = sorted(int(hashlib.md5(v.encode()).hexdigest()[:15], 16) / float(1 << 60) for v in vals)
    assert abs(row["kth_fraction"] - fracs[127]) < 1e-15
    assert abs(row["estimate"] - round(127 / fracs[127], 6)) < 1e-9
    # estimate within 25% of truth at k=128
    assert 0.75 * 3000 < row["estimate"] < 1.25 * 3000
    # exact below k
    small = spark.createDataFrame([(f"x{i}",) for i in range(50)], "tok string")
    srow = kmv_distinct(small, "tok", k=128).first()
    assert srow["k_used"] == 50 and srow["estimate"] == 50.0 and srow["kth_fraction"] is None


def test_asof_join_matches_naive_randomized(spark):
    """Randomized as-of vs a naive per-row scan, with duplicate
    timestamps, equal-ts left/right collisions, and tolerance."""
    import random

    from klinker_spark.ops.temporal import asof_join

    rnd = random.Random(23)
    lrows = [(i, rnd.choice("pq"), rnd.randrange(0, 300)) for i in range(60)]
    rrows = [(rnd.choice("pq"), rnd.randrange(0, 300), round(rnd.random(), 3)) for _ in range(60)]
    l = spark.createDataFrame(lrows, "event_id int, user_id string, ts_ms long")
    r = spark.createDataFrame(rrows, "user_id string, ts_ms long, value double")
    tol = 40

    # naive model: collapse right duplicates by max, then scan
    collapsed = {}
    for k, t, v in rrows:
        collapsed[(k, t)] = max(collapsed.get((k, t), float("-inf")), v)

    def naive(eid, k, t):
        cands = [(rt, v) for (rk, rt), v in collapsed.items() if rk == k and rt <= t]
        if not cands:
            return (None, None)
        rt, v = max(cands)  # latest ts; ties impossible after collapse
        return (rt, v) if t - rt <= tol else (None, None)

    got = {
        x["event_id"]: (x["matched_ts"], x["matched_value"])
        for x in asof_join(l, r, "user_id", "ts_ms", "value", tolerance=tol).collect()
    }
    assert len(got) == len(lrows)
    for eid, k, t in lrows:
        assert got[eid] == naive(eid, k, t), (eid, k, t)


def test_hypertable_rollup_negative_timestamps(spark):
    """Floor-division bucketing must be consistent for pre-epoch ts:
    bucket(-5, width 10) = -10, not 0 (truncation would misbin)."""
    from klinker_spark.ops.rollup import hypertable_rollup

    ev = spark.createDataFrame(
        [(1, "u", 1.0, -5), (2, "u", 2.0, -15), (3, "u", 3.0, 5)],
        "event_id int, user_id string, value double, ts_ms long",
    )
    out = {
        (r["bucket"]): (r["n"], r["sum_value"])
        for r in hypertable_rollup(ev, "ts_ms", ["user_id"], "value", [10]).collect()
    }
    assert out == {-10: (1, 1.0), -20: (1, 2.0), 0: (1, 3.0)}


def test_ivf_hash_sample_empty_index(spark):
    """An empty index yields an empty typed result under either
    quantizer — no untyped empty centroid literal, no MLlib error."""
    from klinker_spark.ops.similarity import ann_topk_ivf

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    for quantizer in ("hash_sample", "kmeans"):
        out = ann_topk_ivf(emb, emb.where(F.lit(False)), k=2, quantizer=quantizer)
        assert out.count() == 0
        assert [f.name for f in out.schema] == ["query_id", "neighbor_id", "sim", "rank"]


def test_cm_sketch_never_underestimates_and_is_exact_when_wide(spark):
    from klinker_spark.ops.sketches import cm_build, cm_estimate

    rows = [(f"k{i % 7}",) for i in range(70)] + [("rare",)]
    df = spark.createDataFrame(rows, ["k"])
    true = df.groupBy("k").count()
    # narrow sketch: estimates are upper bounds
    sk = cm_build(df, "k", width=4, depth=2)
    est = {r["k"]: r["est_count"] for r in cm_estimate(true, "k", sk, width=4, depth=2).collect()}
    for r in true.collect():
        assert est[r["k"]] >= r["count"]
    # wide sketch: no collisions -> exact
    sk2 = cm_build(df, "k", width=1 << 14)
    est2 = {
        r["k"]: r["est_count"]
        for r in cm_estimate(true, "k", sk2, width=1 << 14).collect()
    }
    for r in true.collect():
        assert est2[r["k"]] == r["count"]


def test_cm_sketch_merges_by_cell_sum(spark):
    from pyspark.sql import functions as F

    from klinker_spark.ops.sketches import cm_build

    df = spark.createDataFrame([(f"k{i % 5}", i) for i in range(40)], ["k", "i"])
    full = {(r["row"], r["col"]): r["cnt"] for r in cm_build(df, "k").collect()}
    a = cm_build(df.where(F.col("i") < 20), "k")
    b = cm_build(df.where(F.col("i") >= 20), "k")
    merged = {
        (r["row"], r["col"]): r["cnt"]
        for r in a.unionByName(b).groupBy("row", "col").agg(F.sum("cnt").alias("cnt")).collect()
    }
    assert merged == full


def test_cm_estimate_null_key_is_null(spark):
    from klinker_spark.ops.sketches import cm_build, cm_estimate

    df = spark.createDataFrame([("a",), (None,)], ["k"])
    sk = cm_build(df, "k")
    out = {r["k"]: r["est_count"] for r in cm_estimate(df, "k", sk).collect()}
    assert out["a"] == 1 and out[None] is None


def test_value_histogram_partitions_all_rows(spark):
    from klinker_spark.ops.rollup import value_histogram

    df = spark.createDataFrame([(float(i),) for i in range(100)] + [(None,)], ["v"])
    out = value_histogram(df, "v", bins=10)
    rows = out.collect()
    assert sum(r["cnt"] for r in rows) == 100  # NULL excluded
    assert all(0 <= r["bucket"] <= 9 for r in rows)
    # max value clamps into the top bucket, edges tile the range
    top = max(rows, key=lambda r: r["bucket"])
    assert top["bucket"] == 9 and top["hi_edge"] == 99.0
    lo = min(rows, key=lambda r: r["bucket"])
    assert lo["lo_edge"] == 0.0


def test_value_histogram_fixed_range_and_degenerate(spark):
    from klinker_spark.ops.rollup import value_histogram

    df = spark.createDataFrame([(5.0,), (50.0,), (-3.0,)], ["v"])
    out = {r["bucket"]: r["cnt"] for r in value_histogram(df, "v", bins=4, lo=0.0, hi=40.0).collect()}
    assert out[0] == 2  # 5.0 and the clamped -3.0
    assert out[3] == 1  # 50.0 clamps into the last bucket
    const = spark.createDataFrame([(7.0,)] * 5, ["v"])
    rows = value_histogram(const, "v", bins=4).collect()
    assert len(rows) == 1 and rows[0]["bucket"] == 0 and rows[0]["cnt"] == 5


def test_grouped_quantiles_exact_matches_numpy(spark):
    """Exact path reproduces numpy's linear-interpolation percentiles
    (the PERCENTILE_CONT convention both Spark and DuckDB implement);
    NULLs excluded from n and the cut points."""
    import numpy as np

    from klinker_spark.ops.rollup import grouped_quantiles

    vals_a = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0]
    vals_b = [10.0, 20.0]
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b] + [("a", None)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {
        r["g"]: r
        for r in grouped_quantiles(df, ["g"], "v", (0.25, 0.5, 0.95)).collect()
    }
    assert out["a"]["n"] == 7 and out["b"]["n"] == 2
    for g, vals in (("a", vals_a), ("b", vals_b)):
        for q, col in ((0.25, "p25"), (0.5, "p50"), (0.95, "p95")):
            assert out[g][col] == round(float(np.percentile(vals, q * 100)), 6), (g, col)


def test_grouped_quantiles_approx_bounded_error(spark):
    """The sketch path (percentile_approx) stays within rank tolerance
    of exact on a larger column and keeps the same output schema."""
    from klinker_spark.ops.rollup import grouped_quantiles

    df = spark.createDataFrame([("g", float(i)) for i in range(1000)], ["g", "v"])
    exact = grouped_quantiles(df, ["g"], "v", (0.5, 0.95)).collect()[0]
    approx = grouped_quantiles(
        df, ["g"], "v", (0.5, 0.95), approx=True, accuracy=10_000
    ).collect()[0]
    assert approx["n"] == exact["n"] == 1000
    for col in ("p50", "p95"):
        assert abs(approx[col] - exact[col]) <= 1.0  # within one rank unit


def test_normalize_text_unicode_forms(spark):
    from klinker_spark.ops.textstats import normalize_text

    rows = [
        (1, "Café   Déjà"),   # decomposed accent + double space
        (2, "ﬁne print"),            # ligature: NFC keeps, NFKC splits
        (3, None),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    nfc = {r["doc_id"]: r["text_norm"] for r in normalize_text(docs).collect()}
    assert nfc[1] == "café déjà"          # composed, collapsed, lowered
    assert nfc[2] == "ﬁne print"          # ligature survives NFC
    assert nfc[3] is None
    nfkc = {
        r["doc_id"]: r["text_norm"]
        for r in normalize_text(docs, form="NFKC").collect()
    }
    assert nfkc[2] == "fine print"        # NFKC decomposes the ligature
    # pure-JVM mode: no normalization, still lower+collapse
    plain = {
        r["doc_id"]: r["text_norm"]
        for r in normalize_text(docs, form=None).collect()
    }
    assert plain[1] == "café déjà"


def test_normalize_text_dedup_motivation(spark):
    """Composed and decomposed spellings must hash together AFTER
    normalization — the reason the op runs before any dedup."""
    from pyspark.sql import functions as F

    from klinker_spark.ops.textstats import normalize_text

    docs = spark.createDataFrame(
        [(1, "café au lait"), (2, "café au lait")], ["doc_id", "text"]
    )
    raw = docs.select(F.md5("text").alias("h")).distinct().count()
    norm = (
        normalize_text(docs)
        .select(F.md5("text_norm").alias("h"))
        .distinct()
        .count()
    )
    assert raw == 2 and norm == 1


def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


import pytest as _pytest


@_pytest.mark.parametrize("impl", ["deletion", "prefix"])
def test_edit_distance_dedup_matches_brute_force(spark, impl):
    """Both candidate filters are COMPLETE: against a brute-force model
    on mutated strings, no qualifying pair is lost (the FastSS
    deletion-neighborhood lemma and the EDJoin prefix lemma, verified)."""
    import random

    from klinker_spark.ops.dedup import edit_distance_dedup

    rng = random.Random(11)
    bases = ["".join(rng.choice("abcdef") for _ in range(12)) for _ in range(15)]
    rows = []
    for i, b in enumerate(bases):
        rows.append((3 * i, b))
        mut = list(b)
        mut[rng.randrange(len(mut))] = rng.choice("abcdef")
        rows.append((3 * i + 1, "".join(mut)))            # <=1 substitution
        rows.append((3 * i + 2, b[1:]))                   # 1 deletion
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for d in (1, 2):
        got = {
            (r["doc_a"], r["doc_b"], r["dist"])
            for r in edit_distance_dedup(docs, max_dist=d, impl=impl).collect()
        }
        want = {
            (ia, ib, _lev(ta, tb))
            for ia, ta in rows
            for ib, tb in rows
            if ia < ib and _lev(ta, tb) <= d
        }
        assert got == want, f"d={d}"


def test_edit_distance_dedup_short_string_bucket(spark):
    from klinker_spark.ops.dedup import edit_distance_dedup

    docs = spark.createDataFrame(
        [(1, "ab"), (2, "ac"), (3, "x"), (4, "abcdef")], ["doc_id", "text"]
    )
    got = {(r["doc_a"], r["doc_b"]) for r in edit_distance_dedup(docs, max_dist=1).collect()}
    assert (1, 2) in got          # gram-free strings still pair
    assert (1, 3) not in got      # dist 2
    assert (1, 4) not in got


def test_edit_distance_prefix_gram_deficient_pair(spark):
    """Round-3 advisory counter-example: "abcde"/"abxde" are Ed=1 but
    share ZERO 3-grams (each has exactly d·q = 3 distinct grams, and
    one edit can destroy all of them) — the prefix impl must route
    gram-deficient strings through the length-banded bucket, not just
    ``len < q`` ones."""
    from klinker_spark.ops.dedup import edit_distance_dedup

    docs = spark.createDataFrame(
        [(1, "abcde"), (2, "abxde"), (3, "zzzzz"), (4, "abcde_longer_tail")],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in edit_distance_dedup(docs, max_dist=1, impl="prefix").collect()
    }
    assert got == {(1, 2, 1)}


def test_edit_distance_deletion_depth_three(spark):
    """impl="deletion" honors max_dist > 2 (round-3 advisory: depth was
    silently capped at 2) — recursive neighborhoods to depth 3 find an
    Ed=3 pair, verified against the brute-force model."""
    from klinker_spark.ops.dedup import edit_distance_dedup

    rows = [(1, "abcdefgh"), (2, "axcdyfgz"), (3, "abcdefg"), (4, "qqqqqqqq")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in edit_distance_dedup(docs, max_dist=3, impl="deletion").collect()
    }
    want = {
        (ia, ib, _lev(ta, tb))
        for ia, ta in rows
        for ib, tb in rows
        if ia < ib and _lev(ta, tb) <= 3
    }
    assert (1, 2, 3) in want and got == want


def test_minhash_max_bucket_caps_hot_bands(spark):
    """Adversarial boilerplate corpus: many docs sharing identical text
    collapse into one band bucket per band.  ``max_bucket`` drops those
    buckets (bounded fan-out: candidate pairs from capped run ⊆ from
    uncapped run, and the boilerplate clique is gone), while genuinely
    distinct near-dups survive."""
    from klinker_spark.ops.dedup import minhash_lsh_dedup

    boiler = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [(i, boiler) for i in range(30)]
    dup = "completely different unique text about spark catalyst optimizer internals"
    rows += [(100, dup), (101, dup)]  # identical -> all bands collide, bucket size 2
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_dedup(docs, num_perm=16, bands=4).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_dedup(docs, num_perm=16, bands=4, max_bucket=5).collect()
    }
    assert capped <= uncapped
    # the 30-doc boilerplate clique (435 pairs) is dropped by the cap
    assert not any(a < 100 and b < 100 for a, b in capped)
    # the distinct near-dup pair survives (its bucket has 2 docs)
    assert (100, 101) in capped
    assert any(a < 100 and b < 100 for a, b in uncapped)


def test_dedup_ops_leave_cache_manager_empty(spark):
    """Cache contract (round-3 verdict #4): every dedup op releases its
    internal persists before returning — N calls in one session leave
    the cache manager empty each time (no storage growth)."""
    from klinker_spark.ops.dedup import (
        edit_distance_dedup,
        minhash_lsh_dedup,
        ngram_jaccard_dedup,
        simhash_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with shared tokens") for i in range(20)],
        ["doc_id", "text"],
    )
    spark.catalog.clearCache()  # other tests share the session
    cm = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(2):
        for op in (minhash_lsh_dedup, simhash_dedup, ngram_jaccard_dedup, edit_distance_dedup):
            out = op(docs)
            out.count()
            assert cm.isEmpty(), f"{op.__name__} left persisted DataFrames behind"


def test_dbscan_zero_norm_vector_is_noise_not_hub(spark):
    """Round-3 advisory: cosine() yields NaN for a zero-norm vector and
    Spark sorts NaN above every double, so an unguarded ε-join made the
    zero vector a neighbor of everything — a core point merging the two
    genuine clusters.  Guarded: the zero vector is noise and the two
    clusters keep distinct labels."""
    from klinker_spark.ops.clustering import dbscan_labels

    a = [[1.0, 0.0], [0.999, 0.001], [0.998, 0.002]]
    b = [[0.0, 1.0], [0.001, 0.999], [0.002, 0.998]]
    rows = [(str(i), v) for i, v in enumerate(a + b)] + [("z", [0.0, 0.0])]
    emb = spark.createDataFrame(rows, ["id", "vector"])
    got = {r["id"]: r["label"] for r in dbscan_labels(emb, min_sim=0.9, min_pts=3).collect()}
    assert got["z"] == "-1"
    labels_a = {got[str(i)] for i in range(3)}
    labels_b = {got[str(i)] for i in range(3, 6)}
    assert len(labels_a) == 1 and len(labels_b) == 1 and labels_a != labels_b


def test_value_histogram_empty_input(spark):
    from klinker_spark.ops.rollup import value_histogram

    df = spark.createDataFrame([(None,)], "v double").where(F.lit(False))
    out = value_histogram(df, "v")
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["bucket", "lo_edge", "hi_edge", "cnt"]
    # all-NULL column likewise
    nulls = spark.createDataFrame([(None,), (None,)], "v double")
    assert value_histogram(nulls, "v").count() == 0


def test_cm_heavy_hitters_exact_vs_plain_groupby(spark):
    from klinker_spark.ops.sketches import cm_heavy_hitters

    rows = [(f"hot{i % 3}",) for i in range(60)] + [(f"cold{i}",) for i in range(40)]
    rows += [(None,)]
    df = spark.createDataFrame(rows, ["k"])
    # tiny sketch: plenty of collisions — result must STILL be exact
    got = {
        (r["key"], r["cnt"])
        for r in cm_heavy_hitters(df, "k", min_count=5, width=8, depth=2).collect()
    }
    want = {
        (r["k"], r["count"])
        for r in df.where(F.col("k").isNotNull()).groupBy("k").count().where("count >= 5").collect()
    }
    assert got == want and len(got) == 3


def test_readability_stats_punctuated(spark):
    """Sentence/syllable heuristics on punctuated prose (the synthetic
    corpus has no punctuation, so the oracle only exercises the
    one-sentence path — this pins the rest)."""
    from klinker_spark.ops.textstats import readability_stats

    rows = [
        (1, "The cat sat. The dog ran! Did it?"),   # 3 sentences, 8 words
        (2, "xyzzy qwrt"),                          # y counts; qwrt hits the min-1 floor
        (3, ""),                                    # zero words: excluded
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in readability_stats(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_sentences"] == 3 and out[1]["n_words"] == 8
    # the/cat/sat/the/dog/ran/did/it -> one vowel group each
    assert out[1]["n_syllables"] == 8
    assert out[1]["fk_grade"] == round(0.39 * (8 / 3) + 11.8 * (8 / 8) - 15.59, 6)
    # xyzzy: two 'y' vowel groups = 2; qwrt: zero groups -> min-1 floor
    assert out[2]["n_syllables"] == 3


# ------------------------------------------------------------------ hll / skew / pagerank / pmi


def test_hll_distinct_sketch(spark):
    """Python replication of the md5 register math, plus mergeability
    (element-wise register max) and estimate accuracy."""
    import hashlib

    from klinker_spark.ops.sketches import hll_distinct

    vals = [f"tok{i}" for i in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "tok string")
    row = hll_distinct(df, "tok").first()

    regs = [0] * 256
    for v in vals:
        h = hashlib.md5(v.encode()).hexdigest()
        bucket = int(h[:2], 16)
        val = int(h[2:17], 16)
        rho = 61 if val == 0 else 61 - val.bit_length()
        regs[bucket] = max(regs[bucket], rho)
    assert list(row["registers"]) == regs
    assert row["n_zero"] == regs.count(0)
    # HLL at m=256 has ~6.5% relative error; allow 4 sigma
    assert 0.74 * 3000 < row["estimate"] < 1.26 * 3000

    # mergeable: element-wise max of the two halves' registers equals
    # the full sketch's registers
    a = hll_distinct(df.where(F.col("tok") < "tok2"), "tok").first()["registers"]
    b = hll_distinct(df.where(F.col("tok") >= "tok2"), "tok").first()["registers"]
    assert [max(x, y) for x, y in zip(a, b)] == regs

    # small-range linear counting: 10 distinct values must be near-exact
    small = spark.createDataFrame([(f"x{i}",) for i in range(10)], "tok string")
    srow = hll_distinct(small, "tok").first()
    assert srow["n_zero"] >= 246 and abs(srow["estimate"] - 10) < 1.0


def test_key_skew_stats(spark):
    from klinker_spark.ops.profile import key_skew_stats

    rows = [("a",)] * 60 + [("b",)] * 30 + [("c",)] * 9 + [("d",)] * 1 + [(None,)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_stats(df, "k", top_k=3).collect()
    assert [r["key"] for r in out] == ["a", "b", "c"]
    assert [r["cnt"] for r in out] == [60, 30, 9]
    assert all(r["total_rows"] == 100 and r["n_keys"] == 4 for r in out)
    assert [r["share_ppm"] for r in out] == [600000, 300000, 90000]
    assert [r["cum_share_ppm"] for r in out] == [600000, 900000, 990000]
    # hot_ratio = max_cnt * n_keys / total = 60 * 4 / 100
    assert out[0]["hot_ratio"] == 2.4
    # tie determinism: equal counts order by key
    tie = spark.createDataFrame([("z",), ("y",), ("x",)], "k string")
    assert [r["key"] for r in key_skew_stats(tie, "k", top_k=3).collect()] == ["x", "y", "z"]


def test_pagerank_replication(spark):
    """Integer-micro-unit PageRank vs an exact Python replication on a
    small digraph with a dangling node and a multi-edge."""
    from klinker_spark.ops.graph import pagerank

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "c"),  # multi-edge counts twice in outdeg
    ]  # e is reachable only via teleport
    e_df = spark.createDataFrame(edges + [("e", "a")], "head string, tail string")
    got = {r["node"]: r["rank_micro"] for r in pagerank(e_df, iters=4).collect()}

    all_edges = edges + [("e", "a")]
    nodes = sorted({x for e in all_edges for x in e})
    n = len(nodes)
    outdeg = {}
    for h, _ in all_edges:
        outdeg[h] = outdeg.get(h, 0) + 1
    rank = {v: round(1e6 / n) for v in nodes}
    for _ in range(4):
        s = {v: 0 for v in nodes}
        for h, t in all_edges:
            s[t] += int(rank[h] // outdeg[h])
        rank = {
            v: int(round((1.0 - 0.85) * 1e6 / n)) + int(round(0.85 * s[v]))
            for v in nodes
        }
    assert got == rank
    # link mass: c (3 in-edges) outranks the teleport-only node e
    assert got["c"] > got["e"]


def test_pagerank_zero_iters_collectable(spark):
    """iters=0 returns the uniform init vector and must stay
    collectable AFTER the operator's internal caches are released —
    the pre-r12 shape returned a plan that still referenced the freed
    node checkpoint (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on collect)."""
    from klinker_spark.ops.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), (None, "c")], "head string, tail string"
    )
    got = {r["node"]: r["rank_micro"] for r in pagerank(edges, iters=0).collect()}
    # 4 nodes incl. the null head; uniform round(1e6/4)
    assert got == {"a": 250000, "b": 250000, "c": 250000, None: 250000}
    # empty graph: the |V| literal must not constant-fold into an ANSI
    # divide-by-zero at planning time (r12)
    empty = spark.createDataFrame([], "head string, tail string")
    assert pagerank(empty, iters=3).count() == 0


def test_iter_partition_gate_result_invariant(spark, monkeypatch):
    """hits / label_propagation / bfs_distances take a pre-partitioned
    cached edge copy only above ITER_PARTITIONED_EDGE_MIN (below it the
    r11 localCheckpoint shape wins — measured, see the constant).  The
    gate is a physical-layout switch and must be RESULT-invariant:
    force both branches on the same graph and pin bit-equality."""
    import klinker_spark.ops.graph as g

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("e", "a"), ("b", "e"),
    ]
    e_df = spark.createDataFrame(edges, "x string, y string")

    def run_all():
        return (
            sorted(map(tuple, g.hits(e_df, iters=2, a_col="x", b_col="y").collect())),
            sorted(map(tuple, g.label_propagation(e_df, iters=3, a_col="x", b_col="y").collect())),
            sorted(map(tuple, g.bfs_distances(e_df, ["a"], max_depth=3, a_col="x", b_col="y").collect())),
        )

    below = run_all()  # default gate: checkpoint branch
    monkeypatch.setattr(g, "ITER_PARTITIONED_EDGE_MIN", 0)
    above = run_all()  # forced: pre-partitioned cached branch
    assert below == above
    assert below[0]  # non-degenerate


def test_pagerank_iteration_reuses_cached_edge_partitioning(spark):
    """The per-iteration rank join must consume the persisted edge
    table's hash partitioning directly — re-shuffling |E| rows every
    round is the difference between O(|V|) and O(|E|+|V|) traffic per
    iteration at lake scale.  Pin: during pagerank, the cached edge
    relation exists and is hash-partitioned on head (the loop plans
    are internal, so assert the mechanism: an equi-join on head atop
    the persisted frame plans NO exchange above the InMemoryTableScan)."""
    import pyspark.sql.functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        e = (
            spark.createDataFrame(
                [(i % 7, i) for i in range(100)], "head bigint, tail bigint"
            )
            .repartition(part, "head")
            .persist()
        )
        e.count()
        s = spark.createDataFrame(
            [(i, i * 10) for i in range(7)], "head bigint, s bigint"
        )
        plan = (
            e.join(s, "head", "left")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        left, _, _ = plan.partition("InMemoryTableScan")
        assert "InMemoryTableScan" in plan, plan
        # no exchange on the streamed/cached side above the cache scan
        assert "Exchange" not in left.rsplit("SortMergeJoin", 1)[-1], plan
    finally:
        e.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pagerank_mass_join_is_exchange_and_sort_free(spark):
    """r12.2 refinement of the mechanism above: on the shuffle-join
    path the per-round MASS table is persisted (not checkpointed), so
    it keeps its groupBy hashpartitioning(node) and the rank join —
    shuffle_hash-hinted — consumes BOTH cached sides with no Exchange
    and no Sort: per round only the irreducible tail aggregate
    shuffles."""
    import pyspark.sql.functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        spark.createDataFrame(
            [(i % 7, i) for i in range(100)], "head bigint, tail bigint"
        )
        .repartition(part, "head")
        .persist()
    )
    summed = (
        e.select(F.col("tail").alias("node"), F.lit(1).alias("c"))
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
        .persist()
    )
    try:
        e.count()
        summed.count()
        s_head = summed.select(F.col("node").alias("head"), "s")
        plan = (
            e.join(s_head.hint("shuffle_hash"), "head", "left")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the join's DIRECT children must be the two cache scans — any
        # Exchange/Sort would sit between them at the children's indent
        # level (nested InMemoryRelation build plans legitimately
        # contain their own one-off Exchange; skip them by indent)
        assert "ShuffledHashJoin" in plan, plan
        lines = plan.splitlines()
        ji = next(i for i, l in enumerate(lines) if "ShuffledHashJoin" in l)
        stream_line = lines[ji + 1]
        assert "InMemoryTableScan" in stream_line, plan
        child_indent = len(stream_line) - len(stream_line.lstrip(" :+-"))
        # first subsequent line at the same indent = the build side
        build = next(
            l
            for l in lines[ji + 2 :]
            if l.startswith(" " * (child_indent - 3) + "+- ")
        )
        assert "Filter" in build or "InMemoryTableScan" in build, plan
        assert "Exchange" not in build and "Sort" not in build, plan
    finally:
        e.unpersist()
        summed.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pagerank_final_join_is_exchange_and_sort_free(spark):
    """r13: the NODES table is persisted (not checkpointed), so the
    distinct's hashpartitioning(node) survives in the cache and the
    FINAL nodes ⟕ mass join — shuffle_hash-hinted on the shuffle path —
    consumes both cached sides with no Exchange and no Sort (the r12
    shape checkpointed nodes, whose erased partitioning forced one full
    |V| re-shuffle + two SMJ sorts there)."""
    import pyspark.sql.functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        spark.createDataFrame(
            [(i % 7, i) for i in range(100)], "head bigint, tail bigint"
        )
        .repartition(part, "head")
        .persist()
    )
    nodes = (
        e.select(F.col("head").alias("node"))
        .union(e.select("tail"))
        .distinct()
        .persist()
    )
    summed = (
        e.select(F.col("tail").alias("node"), F.lit(1).alias("c"))
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
        .persist()
    )
    try:
        e.count()
        nodes.count()
        summed.count()
        plan = (
            nodes.join(summed.hint("shuffle_hash"), "node", "left")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ShuffledHashJoin" in plan, plan
        lines = plan.splitlines()
        ji = next(i for i, l in enumerate(lines) if "ShuffledHashJoin" in l)
        stream_line = lines[ji + 1]
        assert "InMemoryTableScan" in stream_line, plan
        child_indent = len(stream_line) - len(stream_line.lstrip(" :+-"))
        build = next(
            l
            for l in lines[ji + 2 :]
            if l.startswith(" " * (child_indent - 3) + "+- ")
        )
        assert "Exchange" not in build and "Sort" not in build, plan
    finally:
        e.unpersist()
        nodes.unpersist()
        summed.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pmi_bigrams(spark):
    import math

    from klinker_spark.ops.textstats import pmi_bigrams

    # "x y" always adjacent (5x), "p q" adjacent twice (below min_count)
    rows = [(i, "x y") for i in range(5)] + [(10, "p q"), (11, "p q"), (12, "x p")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_bigrams(docs, min_count=5, k=10).collect()
    assert [(r["a"], r["b"]) for r in out] == [("x", "y")]
    r = out[0]
    assert r["rank"] == 1 and r["cab"] == 5
    # nb = 8 bigrams total; unigrams: x=6, y=5 over nu=16 tokens
    expected = math.log((5 * 1.0 / 8) / ((6 * 1.0 / 16) * (5 * 1.0 / 16)))
    assert r["pmi_micro"] == round(expected * 1e6)
    assert r["pmi"] == round(round(expected * 1e6) / 1e6, 6)


def test_cm_join_size_estimate(spark):
    """CM inner product never underestimates the true join size and is
    exact when the sketch is collision-free."""
    from klinker_spark.ops.sketches import cm_join_size

    l = spark.createDataFrame([("a",)] * 3 + [("b",)] * 2 + [("x",)], "k string")
    r = spark.createDataFrame([("a",)] * 4 + [("b",)] * 1 + [("y",)] * 5, "k string")
    true_pairs = 3 * 4 + 2 * 1  # 14
    row = cm_join_size(l, "k", r, "k", width=1 << 12, depth=4).first()
    assert row["est_pairs"] == true_pairs  # wide sketch: no collisions
    narrow = cm_join_size(l, "k", r, "k", width=2, depth=2).first()
    assert narrow["est_pairs"] >= true_pairs  # never underestimates
    # disjoint key sets -> 0
    d = cm_join_size(
        l, "k", spark.createDataFrame([("z",)], "k string"), "k", width=1 << 12, depth=4
    ).first()
    assert d["est_pairs"] == 0


def test_plan_bands():
    from klinker_spark.ops.dedup import plan_bands

    b, r = plan_bands(0.5, 128)
    assert 1 <= b and 1 <= r and b * r <= 128
    # the s-curve midpoint (1/b)^(1/r) should land near the threshold
    mid = (1.0 / b) ** (1.0 / r)
    assert 0.3 < mid < 0.7
    # higher threshold -> more rows per band (sharper AND)
    b2, r2 = plan_bands(0.9, 128)
    assert r2 > r and b2 * r2 <= 128
    # single implementation: identical to the blocker's planner
    from klinker_spark.blockers.lsh import optimal_band_geometry

    assert (b, r) == optimal_band_geometry(0.5, 128, (0.5, 0.5))
    # recall-heavy weighting favors more bands (more permissive)
    b3, _ = plan_bands(0.5, 128, fp_weight=0.1, fn_weight=0.9)
    assert b3 >= b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        plan_bands(1.5)


def test_salted_join_matches_plain_join(spark):
    """Salting changes the physics, never the result — inner and left
    joins must match the plain join row-for-row."""
    from klinker_spark.ops.profile import salted_join

    left = spark.createDataFrame(
        [(i, "hot" if i % 3 else f"k{i}") for i in range(60)], "rid int, k string"
    )
    right = spark.createDataFrame(
        [("hot", 1), ("k3", 2), ("zzz", 9)], "k string, v int"
    )
    for how in ("inner", "left"):
        got = sorted(
            tuple(r) for r in salted_join(left, right, "k", n_salt=4, how=how).collect()
        )
        want = sorted(
            tuple(r)
            for r in left.join(right, "k", how)
            .select("k", "rid", "v")
            .collect()
        )
        assert got == want, how
    import pytest as _p

    with _p.raises(ValueError, match="inner/left"):
        salted_join(left, right, "k", how="full")
    with _p.raises(ValueError, match="n_salt"):
        salted_join(left, right, "k", n_salt=0)


def test_truncate_normalize(spark):
    import math

    from klinker_spark.functions.vectors import truncate_normalize

    rows = [(1, [3.0, 4.0, 100.0]), (2, [0.0, 0.0, 5.0]), (3, [1.0])]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    out = {
        r["id"]: r["t"]
        for r in df.select("id", truncate_normalize(F.col("v"), 2).alias("t")).collect()
    }
    assert out[1] == [0.6, 0.8]           # 3-4-5 triangle, third dim dropped
    assert out[2] == [0.0, 0.0]           # zero-norm prefix passes through
    assert out[3] == [1.0]                # shorter than dim: whole vector
    # renormalized prefix has unit norm
    assert abs(math.hypot(*out[1]) - 1.0) < 1e-12


def test_two_stage_ann_recall(spark):
    """Two-stage (8-dim coarse -> full re-rank) vs exact full-vector
    top-10: recall@10 must be high on the real embeddings — the MRL
    deployment bet, quantified."""
    from klinker_spark.queries import QUERIES

    two = QUERIES["two_stage_ann"](spark, SF_DIR).collect()
    exact = QUERIES["knn_topk"](spark, SF_DIR).collect()
    by_q_two, by_q_exact = {}, {}
    for r in two:
        by_q_two.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(by_q_two) == set(by_q_exact)
    hits = sum(len(by_q_two[q] & by_q_exact[q]) for q in by_q_exact)
    total = sum(len(v) for v in by_q_exact.values())
    # the synthetic embeddings are random — unlike MRL-trained vectors
    # the prefix carries no concentrated signal, so absolute recall is
    # modest; the invariant is that the coarse pass beats RANDOM
    # candidate selection (E[recall] = C/N = 50/500 = 0.1) by a wide
    # margin (observed ~0.35 = 3.5x)
    n_index = 500
    assert hits / total > 2 * (50 / n_index)
    # every query's self-match survives both stages at rank 1
    for r in two:
        if r["rank"] == 1:
            assert r["neighbor_id"] == r["query_id"]


def test_hll_register_merge_equals_union(spark):
    """The mergeable split: max-merged per-shard register tables give
    the EXACT same estimate row as one sketch over the union."""
    from klinker_spark.ops.sketches import hll_distinct, hll_estimate, hll_registers

    df = spark.createDataFrame([(f"v{i}",) for i in range(1200)], "tok string")
    a = hll_registers(df.where(F.col("tok") < "v5"), "tok")
    b = hll_registers(df.where(F.col("tok") >= "v5"), "tok")
    merged = (
        a.unionByName(b)
        .groupBy("bucket")
        .agg(F.max("mj").cast("int").alias("mj"))
    )
    got = hll_estimate(merged).first()
    want = hll_distinct(df, "tok").first()
    assert got["registers"] == want["registers"]
    assert got["estimate"] == want["estimate"] and got["n_zero"] == want["n_zero"]


def test_hll_distinct_by_groups(spark):
    """Per-group sketches match independent per-group global sketches."""
    from klinker_spark.ops.sketches import hll_distinct, hll_distinct_by

    rows = [(f"a{i}", "g1") for i in range(500)] + [(f"b{i}", "g2") for i in range(40)]
    df = spark.createDataFrame(rows, "tok string, grp string")
    got = {r["grp"]: r.asDict() for r in hll_distinct_by(df, "tok", ["grp"]).collect()}
    for g in ("g1", "g2"):
        solo = hll_distinct(df.where(F.col("grp") == g), "tok").first()
        assert got[g]["registers"] == solo["registers"], g
        assert got[g]["estimate"] == solo["estimate"], g
    assert abs(got["g2"]["estimate"] - 40) < 5  # linear-counting regime


def test_global_rank_matches_single_window(spark):
    """Distributed rank == the naive global row_number, including ties
    broken by the id column, across several range partitions."""
    import random

    from klinker_spark.ops.profile import global_rank

    rnd = random.Random(7)
    rows = [(i, f"k{rnd.randrange(40)}") for i in range(500)]
    df = spark.createDataFrame(rows, "id int, k string").repartition(8)
    got = {r["id"]: r["rank"] for r in global_rank(df, ["k", "id"]).collect()}
    want = {
        rid: i + 1
        for i, (_, rid) in enumerate(sorted((k, i) for i, k in rows))
    }
    assert got == want


def test_sorted_neighborhood_pairs(spark):
    """Window-3 SN over interleaved names: cross-side pairs within
    rank distance 2, typo neighbors included, far keys excluded."""
    from klinker_spark.ops.profile import sorted_neighborhood_pairs

    left = spark.createDataFrame(
        [("l1", "anna"), ("l2", "annb"), ("l3", "zzz1")], "id string, text string"
    )
    right = spark.createDataFrame(
        [("r1", "ann"), ("r2", "annc"), ("r3", "mmm")], "id string, text string"
    )
    # order (k, side, id): ann(r1) anna(l1) annb(l2) annc(r2) mmm(r3) zzz1(l3)
    got = {
        (r["left_id"], r["right_id"]): r["gap"]
        for r in sorted_neighborhood_pairs(left, right, window=3).collect()
    }
    # windows over ranks 1..6 of size 3: every cross-side pair with
    # rank gap <= 2
    assert got == {
        ("l1", "r1"): 1, ("l2", "r1"): 2, ("l1", "r2"): 2,
        ("l2", "r2"): 1, ("l2", "r3"): 2, ("l3", "r2"): 2,
        ("l3", "r3"): 1,
    }
    import pytest as _p

    with _p.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(left, right, window=1)


def test_js_divergence_tokens(spark):
    """Identical slices give JS 0; disjoint vocabularies give ln 2;
    a hand-computed mixed case matches the Python model."""
    import math

    from klinker_spark.ops.textstats import js_divergence_tokens

    mk = lambda rows: spark.createDataFrame(rows, ["doc_id", "text", "source"])  # noqa: E731
    same = mk([(1, "a b c", "x"), (2, "a b c", "y")])
    r = js_divergence_tokens(same, "source", "x", "y").first()
    assert r["js"] == 0.0 and r["n_vocab_union"] == 3
    disj = mk([(1, "a a b", "x"), (2, "c d e", "y")])
    r2 = js_divergence_tokens(disj, "source", "x", "y").first()
    assert abs(r2["js"] - math.log(2)) < 1e-6
    mixed = mk([(1, "a a b", "x"), (2, "a c", "y")])
    p = {"a": 2 / 3, "b": 1 / 3}
    q = {"a": 1 / 2, "c": 1 / 2}
    js = 0.0
    for t in set(p) | set(q):
        pi, qi = p.get(t, 0.0), q.get(t, 0.0)
        m = (pi + qi) / 2
        js += (0.5 * pi * math.log(pi / m) if pi else 0.0) + (
            0.5 * qi * math.log(qi / m) if qi else 0.0
        )
    r3 = js_divergence_tokens(mixed, "source", "x", "y").first()
    assert abs(r3["js"] - js) < 1e-6
    assert r3["n_tokens_a"] == 3 and r3["n_tokens_b"] == 2


def test_ngram_containment_dedup(spark):
    """A short doc quoted inside a long one: containment ~1 in the
    A->B direction even though Jaccard is tiny; unrelated docs never
    pair; completeness vs a naive all-pairs model."""
    from klinker_spark.ops.dedup import ngram_containment_dedup

    quote = "the quick brown fox jumps over the lazy dog"
    long_doc = ("intro words here " + quote + " plus lots of extra trailing content "
                "that makes this document much longer than the quote body")
    rows = [(1, quote), (2, long_doc), (3, "completely unrelated text about engines")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_dedup(docs, shingle_k=3, threshold=0.8).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.8   # quote contained in long doc
    assert (2, 1) not in got                      # not symmetric
    assert all(3 not in pair for pair in got)
    # completeness on random repetitive docs vs the naive model
    import random

    rnd = random.Random(3)
    vocab = ["aa", "bb", "cc", "dd"]
    rdocs = [(i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 12)))) for i in range(25)]
    df = spark.createDataFrame(rdocs, ["doc_id", "text"])
    got2 = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_containment_dedup(df, shingle_k=3, threshold=0.7).collect()
    }

    def sh(t):
        tk = [w for w in t.split() if w]
        if len(tk) <= 3:
            return {" ".join(tk)}
        return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}

    want = set()
    sets = {i: sh(t) for i, t in rdocs}
    for a in sets:
        for b in sets:
            if a != b and sets[a] and len(sets[a] & sets[b]) / len(sets[a]) >= 0.7:
                want.add((a, b))
    assert got2 == want


def test_zipf_fit(spark):
    """A perfect synthetic Zipf corpus recovers slope ~ -1; a uniform
    corpus fits slope ~ 0."""
    from klinker_spark.ops.textstats import zipf_fit

    # token t_r appears round(1000/r) times -> ln f = ln 1000 - ln r
    rows = []
    did = 0
    for r in range(1, 31):
        for _ in range(round(1000 / r)):
            rows.append((did, f"t{r:02d}"))
            did += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = zipf_fit(docs, top_k=30).first()
    assert got["k_used"] == 30
    assert -1.05 < got["slope"] < -0.95
    uni = spark.createDataFrame(
        [(i, f"u{i % 20:02d}") for i in range(2000)], ["doc_id", "text"]
    )
    flat = zipf_fit(uni, top_k=20).first()
    assert abs(flat["slope"]) < 0.01


def test_distinct_ngram_ratio(spark):
    from klinker_spark.ops.textstats import distinct_ngram_ratio

    rows = [
        (1, "a b a b a b", "rep"),     # bigrams: ab,ba,ab,ba,ab -> 5 occ, 2 types
        (2, "w x y z", "div"),         # 3 occ, 3 types
        (3, "solo", "tiny"),           # <2 tokens: no contribution
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r.asDict() for r in distinct_ngram_ratio(docs, n=2).collect()}
    assert set(out) == {"rep", "div"}
    assert out["rep"]["n_ngrams"] == 5 and out["rep"]["n_distinct"] == 2
    assert out["rep"]["distinct_ratio"] == 0.4
    assert out["div"]["distinct_ratio"] == 1.0


def test_tfidf_cosine_join(spark):
    """Weighted semantics: a shared RARE token outweighs shared
    boilerplate; identical docs score 1.0."""
    from klinker_spark.ops.dedup import tfidf_cosine_join

    common = "the common filler words here"
    rows = [
        (1, f"{common} zebra"),
        (2, f"{common} zebra"),       # identical -> 1.0
        (3, f"{common} yak"),         # shares boilerplate + differs on rare token
        (4, "unrelated totally different content entirely"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in tfidf_cosine_join(docs, threshold=0.2).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] < got[(1, 2)]
    assert all(4 not in p for p in got)


def test_tfidf_cosine_join_max_df(spark):
    """max_df removes corpus stopwords from the vector space: a pair
    sharing ONLY capped tokens disappears; rare-token pairs survive
    with pure rare-token scores."""
    from klinker_spark.ops.dedup import tfidf_cosine_join

    filler = "the common words"
    rows = [(i, f"{filler} junk{i}") for i in range(1, 9)] + [
        (20, f"{filler} zebra"),
        (21, f"{filler} zebra"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in tfidf_cosine_join(docs, threshold=0.2, max_df_frac=0.5).collect()
    }
    # filler tokens (df=10 of 10 docs) are out of the space: only the
    # zebra pair survives, and at similarity 1.0 (identical rare sets)
    assert capped == {(20, 21): 1.0}


# ------------------------------------------------------------------ triangles / neighbor jaccard


def test_triangle_count_known_graph(spark):
    """K4 minus one edge: nodes a,b,c,d; edges ab,ac,ad,bc,bd (no cd)
    -> triangles abc and abd."""
    from klinker_spark.ops.graph import triangle_count

    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("b", "a")]  # duplicate reversed edge must not double-count
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: (r["degree"], r["triangles"], r["clustering_ppm"])
           for r in triangle_count(df).collect()}
    assert got["a"] == (3, 2, round(2e6 * 2 / 6))
    assert got["b"] == (3, 2, round(2e6 * 2 / 6))
    assert got["c"] == (2, 1, 1000000)
    assert got["d"] == (2, 1, 1000000)


def test_triangle_count_naive_parity(spark):
    """Deterministic random graph vs a brute-force triangle census."""
    import itertools
    import random

    from klinker_spark.ops.graph import triangle_count

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(20)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)})
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v), adj[v].add(u)
    want = {n: 0 for n in nodes}
    for u, v, w in itertools.combinations(nodes, 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            want[u] += 1
            want[v] += 1
            want[w] += 1
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    for n, t in got.items():
        assert t == want[n], n
    assert sum(got.values()) == sum(want.values())


def test_neighbor_jaccard_join_basic(spark):
    from klinker_spark.ops.graph import neighbor_jaccard_join

    left = spark.createDataFrame(
        [("c1", "p1"), ("c1", "p2"), ("c1", "p3"), ("c2", "p9")],
        "id string, nbr string")
    right = spark.createDataFrame(
        [("s1", "p1"), ("s1", "p2"), ("s2", "p3"), ("s2", "p4"), ("s3", "p9")],
        "id string, nbr string")
    got = {(r["lid"], r["rid"]): r["jaccard_ppm"]
           for r in neighbor_jaccard_join(left, right, threshold_ppm=1, k=10).collect()}
    # c1 ∩ s1 = {p1,p2}, union = 3 -> 666667; c1 ∩ s2 = {p3}, union = 4 -> 250000
    assert got[("c1", "s1")] == round(1e6 * 2 / 3)
    assert got[("c1", "s2")] == 250000
    assert got[("c2", "s3")] == 1000000
    assert ("c2", "s1") not in got


def test_neighbor_jaccard_max_df_drops_hub(spark):
    from klinker_spark.ops.graph import neighbor_jaccard_join

    left = spark.createDataFrame(
        [(f"c{i}", "hub") for i in range(5)] + [("c0", "x")],
        "id string, nbr string")
    right = spark.createDataFrame(
        [("s0", "hub"), ("s0", "x")], "id string, nbr string")
    got = neighbor_jaccard_join(left, right, threshold_ppm=1, k=10, max_df=3).collect()
    # hub (5 left entities > 3) dropped on BOTH sides: only c0-s0 via x survives
    assert {(r["lid"], r["rid"]) for r in got} == {("c0", "s0")}
    assert got[0]["jaccard_ppm"] == 1000000


def test_phonetic_key_classic_soundex(spark):
    """Spark chain reproduces classic American Soundex on the standard
    examples (and matches the DuckDB twin exactly)."""
    import duckdb
    from pyspark.sql import functions as F

    from klinker_spark.functions.text import phonetic_key, phonetic_key_sql

    words = ["Robert", "Rupert", "Smith", "Smyth", "Pfister", "Aaron",
             "White", "Lloyd", "Tymczak", "Ashcraft", "Honeyman", "a", "hw", ""]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: r["k"] for r in df.select("w", phonetic_key("w").alias("k")).collect()}
    assert got["Robert"] == "r163" and got["Rupert"] == "r163"
    assert got["Smith"] == got["Smyth"] == "s530"
    assert got["Pfister"] == "p236"
    assert got["Tymczak"] == "t522"
    assert got["Ashcraft"] == "a261"
    assert got[""] is None
    duck = dict(duckdb.sql(
        f"SELECT w, {phonetic_key_sql('w')} FROM (SELECT unnest({words!r}) w)"
    ).fetchall())
    assert got == duck


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge — hand-traced 4-round
    synchronous fixpoint: the abc triangle keeps label 'a'; the bridge
    injects 'c' into the xyz triangle, which converges to 'c'."""
    from klinker_spark.ops.graph import label_propagation

    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["community"] for r in label_propagation(df, iters=4).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "c", "y": "c", "z": "c"}


def test_scd2_intervals(spark):
    from klinker_spark.ops.temporal import scd2_intervals

    rows = [
        ("u1", 10, "A", 1), ("u1", 20, "A", 2),  # no-op repeat dropped
        ("u1", 30, "B", 3), ("u1", 40, "A", 4),
        ("u2", 15, "X", 5),
    ]
    df = spark.createDataFrame(rows, "k string, ts long, v string, e long")
    got = sorted(
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_intervals(df, "k", "ts", "v", "e").collect()
    )
    assert got == [
        ("u1", "A", 10, 30, False),
        ("u1", "A", 40, None, True),
        ("u1", "B", 30, 40, False),
        ("u2", "X", 15, None, True),
    ]


def test_scd2_timestamp_tie_break(spark):
    from klinker_spark.ops.temporal import scd2_intervals

    rows = [("u1", 10, "B", 2), ("u1", 10, "A", 1)]
    df = spark.createDataFrame(rows, "k string, ts long, v string, e long")
    got = {(r["v"]): (r["valid_from"], r["valid_to"]) for r in
           scd2_intervals(df, "k", "ts", "v", "e").collect()}
    assert got == {"A": (10, 10), "B": (10, None)}


def test_k_core_peels_chain(spark):
    """Triangle with a pendant chain: 2-core = the triangle only, and
    the chain peels over multiple rounds (tests cascade)."""
    from klinker_spark.ops.graph import k_core

    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("c", "d"), ("d", "e"), ("e", "f")]
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=2, rounds=4).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # one round is NOT enough: only f's removal has propagated partially
    partial = {r["node"] for r in k_core(df, k=2, rounds=1).collect()}
    assert partial == {"a", "b", "c", "d"}


def test_ntile_global_matches_builtin_ntile(spark):
    """Distributed ntile == Spark's single-window ntile for bucket
    counts that divide n evenly and not (n=503, k=4 leaves rem=3), for
    asc and desc orders, and with the literal-count fast path."""
    import random

    from pyspark.sql import Window

    from klinker_spark.ops.profile import ntile_global

    rnd = random.Random(11)
    rows = [(i, rnd.randrange(1000)) for i in range(503)]
    df = spark.createDataFrame(rows, "id int, v int").repartition(8)
    for order, w in [
        ([F.col("v").asc(), F.col("id")], Window.orderBy(F.col("v").asc(), F.col("id"))),
        ([F.col("v").desc(), F.col("id")], Window.orderBy(F.col("v").desc(), F.col("id"))),
    ]:
        want = {
            r["id"]: r["b"]
            for r in df.withColumn("b", F.ntile(4).over(w)).collect()
        }
        got = {r["id"]: r["b"] for r in ntile_global(df, order, 4, "b").collect()}
        assert got == want
        fast = {
            r["id"]: r["b"]
            for r in ntile_global(df, order, 4, "b", n_rows=503).collect()
        }
        assert fast == want
    # n divisible by k, and n < k edge (every row its own bucket)
    small = spark.createDataFrame([(i, i) for i in range(3)], "id int, v int")
    got = {r["id"]: r["b"] for r in ntile_global(small, [F.col("v"), F.col("id")], 4, "b").collect()}
    assert got == {0: 1, 1: 2, 2: 3}
    gotf = {r["id"]: r["b"] for r in ntile_global(small, [F.col("v"), F.col("id")], 4, "b", n_rows=3).collect()}
    assert gotf == got


def test_ngram_lm_score_hand_computed(spark):
    """Add-one bigram LM against a hand-built reference: exact counts,
    smoothing, unseen-history backoff, and the nano half-up average."""
    import math

    from klinker_spark.ops.textstats import ngram_lm_score

    ref = spark.createDataFrame(
        [(0, "a b a b"), (10, "a c")], "doc_id bigint, text string"
    )
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "z z"), (3, "x")], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in ngram_lm_score(docs, ref).collect()}
    # reference: cu = {a:3, b:2, c:1}, V = 3; cb = {(a,b):2, (b,a):1, (a,c):1}
    nll = lambda cu, cb: round(1e9 * math.log((cu + 3) / (cb + 1)))
    # doc 1: one bigram (a,b): ln((3+3)/(2+1))
    assert out[1]["n_bigrams"] == 1
    assert out[1]["nll_nano_sum"] == nll(3, 0 + 2)
    assert out[1]["avg_nll_nano"] == (2 * out[1]["nll_nano_sum"] + 1) // 2
    # doc 2: (z,z) unseen history -> ln((0+3)/(0+1))
    assert out[2]["nll_nano_sum"] == nll(0, 0)
    # doc 3: single token -> excluded
    assert 3 not in out


def test_margin_bitext_mine_suppresses_hub(spark):
    """The margin score must prefer a mutually-close pair over a hub
    vector that scores high against everything (the failure mode plain
    cosine top-1 has)."""
    from klinker_spark.ops.similarity import margin_bitext_mine

    # left L0 and right R0 are a true pair; right H is a hub nearly
    # parallel to everything on the left.
    left = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.2]), (2, [0.0, 1.0, 0.2]), (4, [0.7, 0.7, 0.2])],
        "vec_id bigint, embedding array<double>",
    )
    right = spark.createDataFrame(
        [(1, [1.0, 0.05, 0.2]), (3, [0.05, 1.0, 0.2]), (5, [0.58, 0.58, 0.58])],
        "vec_id bigint, embedding array<double>",
    )
    out = {r["query_id"]: r for r in margin_bitext_mine(left, right, k=2).collect()}
    assert out[0]["neighbor_id"] == 1
    assert out[2]["neighbor_id"] == 3
    # margin is the 2k-scaled distance margin: recompute for one pair
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    cm = lambda a, b: round(cos(a, b) * 1e6)
    l0, r1, r3, r5 = [1.0, 0.0, 0.2], [1.0, 0.05, 0.2], [0.05, 1.0, 0.2], [0.58, 0.58, 0.58]
    l2, l4 = [0.0, 1.0, 0.2], [0.7, 0.7, 0.2]
    sx = cm(l0, r1) + max(cm(l0, r3), cm(l0, r5))  # top-2 of L0
    sy = cm(l0, r1) + cm(l4, r1)  # top-2 of R1 over left
    assert out[0]["margin_scaled"] == 4 * cm(l0, r1) - sx - sy


def test_event_value_twap_hand_computed(spark):
    """TWAP against a hand-built series: interval weights, last-event
    drop, single-event exclusion, integer half-up mean."""
    from klinker_spark.ops.temporal import event_value_twap

    rows = [
        # user 1: value 2.0 for 10us, 4.0 for 30us -> twap = (20+120)/40 = 3.5
        (1, 100, 2.0, 1),
        (1, 110, 4.0, 2),
        (1, 140, 9.9, 3),   # last event: no interval
        (2, 50, 7.0, 4),    # single event: excluded
    ]
    df = spark.createDataFrame(rows, "user_id bigint, us bigint, value double, event_id bigint").selectExpr(
        "user_id", "timestamp_micros(us) ts", "value", "event_id"
    )
    out = {r["user_id"]: r.asDict() for r in event_value_twap(df).collect()}
    assert set(out) == {1}
    assert out[1]["n_intervals"] == 2
    assert out[1]["span_us"] == 40
    assert out[1]["twap_micro"] == 3_500_000


def test_event_value_ohlc_hand_computed(spark):
    """OHLC: open/close on the (ts, tie) total order including a
    same-timestamp tie, high/low extremes."""
    from klinker_spark.ops.temporal import event_value_ohlc

    rows = [
        (1, 10, 5.0, 2),
        (1, 10, 3.0, 1),   # same ts, lower tie -> the true open
        (1, 20, 9.0, 3),
        (1, 30, 1.0, 4),   # close
    ]
    df = spark.createDataFrame(rows, "user_id bigint, us bigint, value double, event_id bigint").selectExpr(
        "user_id", "timestamp_micros(us) ts", "value", "event_id"
    )
    r = event_value_ohlc(df, bucket_us=1000).collect()[0]
    assert (r["open_micro"], r["high_micro"], r["low_micro"], r["close_micro"]) == (
        3_000_000, 9_000_000, 1_000_000, 1_000_000,
    )
    assert r["n_events"] == 4


def test_kcenter_sample_greedy_trajectory(spark):
    """FPS picks the farthest point each round with deterministic
    tie-breaks; min-distances are non-increasing."""
    from klinker_spark.ops.similarity import kcenter_sample

    pts = [
        (0, [0.0, 0.0]),
        (1, [10.0, 0.0]),
        (2, [0.0, 8.0]),
        (3, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(pts, "vec_id bigint, embedding array<double>")
    out = sorted(kcenter_sample(df, k=3).collect(), key=lambda r: r["sel_round"])
    assert [r["vec_id"] for r in out] == [0, 1, 2]  # seed, farthest (100), then 64
    assert out[0]["mind_micro"] is None
    assert out[1]["mind_micro"] == 100_000_000
    assert out[2]["mind_micro"] == 64_000_000


def test_kmv_set_ops_semantics(spark):
    """KMV set algebra sanity: identical sets -> Jaccard 1e6 and
    intersection == union; disjoint sets -> Jaccard 0; small sets are
    exact (k not reached)."""
    from klinker_spark.ops.sketches import kmv_set_ops

    a = spark.createDataFrame([(f"t{i}",) for i in range(100)], "tok string")
    b = spark.createDataFrame([(f"t{i}",) for i in range(100)], "tok string")
    r = kmv_set_ops(a, b, "tok").collect()[0]
    assert r["jaccard_micro"] == 1_000_000
    assert r["union_estimate"] == 100.0
    assert r["intersection_estimate"] == 100.0

    c = spark.createDataFrame([(f"u{i}",) for i in range(100)], "tok string")
    r2 = kmv_set_ops(a, c, "tok").collect()[0]
    assert r2["jaccard_micro"] == 0
    assert r2["union_estimate"] == 200.0
    assert r2["intersection_estimate"] == 0.0

    # half overlap, still under k: exact
    d = spark.createDataFrame([(f"t{i}",) for i in range(50, 150)], "tok string")
    r3 = kmv_set_ops(a, d, "tok").collect()[0]
    assert r3["union_estimate"] == 150.0
    assert r3["n_shared"] == 50


def test_psi_drift(spark):
    """Identical bucket distributions give PSI exactly 0; a hand-built
    shifted case matches the Laplace-smoothed Python model."""
    import math

    from klinker_spark.ops.profile import psi_drift

    mk = lambda rows: spark.createDataFrame(rows, ["g", "bk"])  # noqa: E731
    same = mk([("a", 1), ("a", 2), ("b", 1), ("b", 2)])
    r = psi_drift(same, "g", "a", "b", "bk").first()
    assert r["psi_nano"] == 0 and r["n_buckets"] == 2

    # a: {1:3, 2:1}, b: {2:2, 3:2} over union buckets {1,2,3}
    rows = [("a", 1)] * 3 + [("a", 2)] + [("b", 2)] * 2 + [("b", 3)] * 2
    r2 = psi_drift(mk(rows), "g", "a", "b", "bk").first()
    ca, cb = {1: 3, 2: 1, 3: 0}, {1: 0, 2: 2, 3: 2}
    na, nb, B = 4, 4, 3
    want = sum(
        round(
            ((ca[k] + 1) / (na + B) - (cb[k] + 1) / (nb + B))
            * math.log(((ca[k] + 1) / (na + B)) / ((cb[k] + 1) / (nb + B)))
            * 1e9
        )
        for k in (1, 2, 3)
    )
    assert r2["psi_nano"] == want
    assert r2["n_a"] == 4 and r2["n_b"] == 4 and r2["n_buckets"] == 3


def test_classifier_agreement_kappa_query(spark):
    """The registered kappa query's contingency partitions the corpus
    and its nano value matches an independent pandas model."""
    import math

    from klinker_spark.queries import QUERIES

    r = QUERIES["classifier_agreement_kappa"](spark, SF_DIR).first()
    n, a, b, c, d = (
        r["n_docs"], r["both_pos"], r["a_only"], r["b_only"], r["both_neg"]
    )
    assert a + b + c + d == n and -1e9 <= r["kappa_nano"] <= 1e9

    import pandas as pd

    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    la = pdf["text"].str.len() >= 300
    lb = pdf["text"].apply(lambda t: len([x for x in t.split(" ") if x]) >= 60)
    aa = int((la & lb).sum()); bb = int((la & ~lb).sum())
    cc = int((~la & lb).sum()); dd = int((~la & ~lb).sum())
    assert (aa, bb, cc, dd) == (a, b, c, d)
    nn = aa + bb + cc + dd
    pe = (aa + bb) * (aa + cc) + (cc + dd) * (bb + dd)
    den = nn * nn - pe
    want = 0 if den == 0 else round(1e9 * (nn * (aa + dd) - pe) / den)
    assert r["kappa_nano"] == want


def test_benford_audit_query(spark):
    """Digit rows partition the positive orders; Benford expectations
    match log10(1 + 1/d); deviation column is the exact difference."""
    import math

    from klinker_spark.queries import QUERIES

    rows = QUERIES["benford_audit"](spark, SF_DIR).collect()
    assert [r["digit"] for r in rows] == sorted(r["digit"] for r in rows)
    assert all(1 <= r["digit"] <= 9 for r in rows)
    n_orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .where(F.col("o_totalprice") > 0)
        .count()
    )
    assert sum(r["cnt"] for r in rows) == n_orders
    for r in rows:
        assert r["benford_ppm"] == round(1e6 * math.log10(1 + 1 / r["digit"]))
        assert r["dev_ppm"] == r["share_ppm"] - r["benford_ppm"]


def test_probe_centroids_exact_parity(spark):
    """The Arrow fold-exact probe kernel must pick EXACTLY the
    centroids the Catalyst higher-order-function projection picks —
    across random vectors, exact ties (duplicate centroids),
    zero-norm queries (NaN sims), and disjoint-support rows (the
    ±0.0 fold corner)."""
    import random

    from klinker_spark.ops.similarity import (
        _probe_centroids_exact,
        _probe_centroids_expr,
    )

    rng = random.Random(7)
    dim = 8
    rows = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)]) for i in range(40)]
    rows.append((100, [0.0] * dim))                      # zero-norm -> NaN sims
    rows.append((101, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # disjoint support
    q = spark.createDataFrame(rows, "query_id bigint, qv array<double>")
    cents = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)]) for i in range(6)]
    cents.append((6, list(cents[0][1])))                 # exact tie with cid 0
    cents.append((7, [0.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]))  # disjoint vs 101
    for n_probe in (1, 3):
        got = sorted(
            (r["query_id"], r["centroid_id"])
            for r in _probe_centroids_exact(q, cents, n_probe).collect()
        )
        want = sorted(
            (r["query_id"], r["centroid_id"])
            for r in _probe_centroids_expr(q, cents, n_probe).collect()
        )
        assert got == want, f"n_probe={n_probe}"


def test_curation_funnel_monotone(spark):
    """Funnel stages are nested: raw >= quality_pass >= dedup survivor,
    for both docs and tokens, and raw matches the table count."""
    from klinker_spark.queries import QUERIES

    rows = {r["stage"]: r for r in QUERIES["curation_funnel"](spark, SF_DIR).collect()}
    raw, q, s = rows["raw"], rows["quality_pass"], rows["exact_dedup_survivor"]
    assert raw["n_docs"] >= q["n_docs"] >= s["n_docs"] > 0
    assert raw["total_tokens"] >= q["total_tokens"] >= s["total_tokens"] > 0
    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert raw["n_docs"] == n


def test_lsh_parameter_plan_shape(spark):
    """63-cell grid; collision probability is monotone in jaccard per
    banding and matches the closed form."""
    from klinker_spark.queries import QUERIES

    rows = QUERIES["lsh_parameter_plan"](spark, SF_DIR).collect()
    assert len(rows) == 63
    for r in rows:
        b, rp, j = r["bands"], r["rows_per_band"], r["jaccard_pct"] / 100.0
        assert b * rp == 64
        want = round((1.0 - (1.0 - j ** rp) ** b) * 1e6)
        assert r["collision_prob_micro"] == want
    by_band = {}
    for r in rows:
        by_band.setdefault(r["bands"], []).append(
            (r["jaccard_pct"], r["collision_prob_micro"])
        )
    for cells in by_band.values():
        probs = [p for _, p in sorted(cells)]
        assert probs == sorted(probs)


def test_ivf_append_audit_partitions(spark):
    """Every vector lands in exactly one list: base + appended counts
    across centroids equal the 80/20 split sizes."""
    from klinker_spark.queries import QUERIES

    rows = QUERIES["ivf_append_audit"](spark, SF_DIR).collect()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_base = emb.where(F.col("vec_id") % 5 != 0).count()
    n_new = emb.where(F.col("vec_id") % 5 == 0).count()
    assert sum(r["n_base"] for r in rows) == n_base
    assert sum(r["n_appended"] for r in rows) == n_new


def test_embedding_health_audit(spark):
    """Counts cover the table; the synthetic embeddings are healthy
    (no nulls / dim outliers / NaNs)."""
    from klinker_spark.queries import QUERIES

    r = QUERIES["embedding_health_audit"](spark, SF_DIR).first()
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert r["n_vecs"] == n
    assert r["n_null_or_empty"] == 0 and r["n_wrong_dim"] == 0
    assert r["n_nan_norm"] == 0 and r["norm_micro_sum"] > 0


def test_simhash_packed_lane_parity(dup_docs, spark):
    """The packed-lane fingerprint (round-8 rewrite: 3 bit-counters
    per bigint, ONE aggregate) must equal an independent driver-side
    recomputation of the textbook definition — per bit b, set iff
    2*ones_b > n_total — from the very same JVM token hashes."""
    from collections import defaultdict

    from klinker_spark.functions.text import simhash, tokenize

    toks = dup_docs.select("doc_id", F.explode(tokenize("text", 1, [])).alias("t"))
    rows = toks.select("doc_id", "t", F.xxhash64("t").alias("h")).collect()
    ones = defaultdict(lambda: [0] * 64)
    tot = defaultdict(int)
    for r in rows:
        tot[r["doc_id"]] += 1
        for b in range(64):
            if (r["h"] >> b) & 1:
                ones[r["doc_id"]][b] += 1
    expected = {}
    for d in tot:
        fp = 0
        for b in range(64):
            if 2 * ones[d][b] > tot[d]:
                fp += (1 << b) - ((1 << 64) if b == 63 else 0)
        expected[d] = fp
    got = {
        r["doc_id"]: r["fp"]
        for r in simhash(dup_docs, tokenize("text", 1, []), id_col="doc_id").collect()
    }
    assert got == expected


def test_simhash_lane_overflow_guard(spark):
    """A row with more token occurrences than a 20-bit lane can count
    must raise loudly, never silently wrap."""
    import pyspark.errors

    from klinker_spark.functions.text import simhash, tokenize

    long_doc = spark.createDataFrame(
        [(1, "x " * (1 << 20))], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="lane overflow"):
        simhash(long_doc, tokenize("text", 1, []), id_col="doc_id").collect()


def test_simhash_rejects_bits_over_64(dup_docs):
    """The fingerprint is one signed bigint: bits > 64 must be rejected
    loudly in BOTH hash lanes (the md5 lane used to 'allow' up to 128
    but the >=2^63 weight literals would overflow/NULL silently)."""
    from klinker_spark.functions.text import simhash, tokenize

    for fn in ("xxhash64", "md5"):
        with pytest.raises(ValueError, match="64-bit bigint"):
            simhash(
                dup_docs, tokenize("text", 1, []), id_col="doc_id",
                bits=65, hash_fn=fn,
            )


def test_probe_centroids_widens_narrow_inputs(spark):
    """r10 scale lesson: the CPU-bound probe kernels must not inherit
    a narrow input's partitioning (a 2-part table once ran the whole
    kernel in 2 tasks on 32 cores — negative scaling exponent).  A
    coalesced-narrow input comes out at session parallelism; results
    are unchanged."""
    from klinker_spark.ops.similarity import _probe_centroids

    rows = [(i, [float(i % 7), 1.0, 0.5, 0.25]) for i in range(200)]
    q = spark.createDataFrame(rows, "query_id bigint, qv array<double>").coalesce(1)
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    out = _probe_centroids(q, cents, 1)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    got = {r["query_id"]: r["centroid_id"] for r in out.collect()}
    assert len(got) == 200
    # id 0 has qv [0,1,.5,.25] -> closer to centroid 1
    assert got[0] == 1


def test_pagerank_outdeg_shapes_identical(spark):
    """r11: the outdeg skew boundary is data-driven — the groupBy+join
    form (chosen when the sampled max-out-degree probe detects a
    celebrity head) must produce bit-identical ranks to the window
    form, and the auto probe must pick the window on a benign graph /
    the join form when the threshold is crossed."""
    from klinker_spark.ops import graph as G

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("e", "a")]
    e_df = spark.createDataFrame(edges, "head string, tail string")
    w = sorted(map(tuple, G.pagerank(e_df, iters=4, outdeg_shape="window").collect()))
    j = sorted(map(tuple, G.pagerank(e_df, iters=4, outdeg_shape="join").collect()))
    assert w == j
    # auto on a benign graph == window form results
    a = sorted(map(tuple, G.pagerank(e_df, iters=4).collect()))
    assert a == w
    # forced-low threshold: auto must take the join path (sampling a
    # tiny graph is noisy, so make every head hot enough to survive it)
    import pytest

    hot = spark.createDataFrame(
        [("h", f"t{i}") for i in range(3000)], "head string, tail string"
    )
    old = G.OUTDEG_WINDOW_MAX_TASK_ROWS
    G.OUTDEG_WINDOW_MAX_TASK_ROWS = 10
    try:
        auto_hot = sorted(
            map(tuple, G.pagerank(hot, iters=2).collect())
        )
        join_hot = sorted(
            map(tuple, G.pagerank(hot, iters=2, outdeg_shape="join").collect())
        )
        assert auto_hot == join_hot
    finally:
        G.OUTDEG_WINDOW_MAX_TASK_ROWS = old
    with pytest.raises(ValueError, match="outdeg_shape"):
        G.pagerank(e_df, outdeg_shape="bogus")
    # r11 ADVICE: null-head edges — the join form's inner equi-join
    # silently dropped them (nulls never equi-match), shrinking the
    # node set vs the window form, so the auto probe could flip
    # RESULTS across runs.  Both shapes must agree on graphs with null
    # endpoints: the null-head edge contributes its tail as a node but
    # no mass (same as the window form, where the rank join routes the
    # null partition out).
    null_edges = edges + [(None, "z"), ("b", None)]
    ne_df = spark.createDataFrame(null_edges, "head string, tail string")
    wn = {tuple(r) for r in G.pagerank(ne_df, iters=3, outdeg_shape="window").collect()}
    jn = {tuple(r) for r in G.pagerank(ne_df, iters=3, outdeg_shape="join").collect()}
    assert wn == jn
    assert "z" in {r[0] for r in wn}
