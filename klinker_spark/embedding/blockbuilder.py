"""Embedding block builders — turn two embedding DataFrames into blocks.

Reference: ``/root/reference/src/klinker/blockers/embedding/
blockbuilder.py`` — kNN builders over kiez/Faiss (J8/M18, ``:51-207``)
and HDBSCAN cluster blocks (M14, ``:286-436``).

Spark-first mapping:
- exact kNN = the broadcast-matmul kernel, queries streamed through
  ``mapInPandas`` (``functions.vectors.topk_cosine_join``);
- approximate kNN at scale = MLlib ``BucketedRandomProjectionLSH`` on
  L2-normalized vectors (cosine ≡ euclidean on the unit sphere), an
  ``approxSimilarityJoin`` + window top-k — fully distributed, unlike
  the reference's driver-side Faiss index (``ops.similarity.ann_topk_lsh``);
- cluster blocks = MLlib ``KMeans`` (scalable stand-in for HDBSCAN,
  which is driver-side in the reference too; the cluster→blocks step is
  the A1 aggregate either way).

NN output normalized to ``(left_id, neighbors array<string>)``
(``NNBasedKlinkerBlockManager``, ``blocks.py:466-527``) and exposed as a
standard ``BlockManager`` keyed by the left id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data.blocks import BlockManager
from ..functions.vectors import topk_cosine_join
from ..ops.similarity import ann_topk_lsh, csls_topk, mutual_rank_topk

__all__ = ["KNNBlockBuilder", "LSHKNNBlockBuilder", "ClusterBlockBuilder"]


def _nn_to_blocks(nn: DataFrame, left_name: str, right_name: str) -> BlockManager:
    """``(query_id, neighbor_id, rank)`` → blocks keyed by left id
    (NN-block normalization, ``blocks.py:466-557``): ONE group-by over
    the neighbour table; both key frames are ``explode`` projections of
    it.  Every block keeps a neighbour, so the keys are effective, and
    the size filter keeps the left frame reading the arrays too: both
    frames share one exchange and the kNN kernel runs once per action."""
    arrays = (
        nn.where(F.col("query_id").isNotNull())
        .groupBy(F.col("query_id").alias("block_key"))
        .agg(F.array_sort(F.collect_set("neighbor_id")).alias(right_name))
        .where(F.size(right_name) > 0)
        .select("block_key", F.array("block_key").alias(left_name), right_name)
    )
    lk, rk = (arrays.select("block_key", F.explode(c).alias("id")) for c in (left_name, right_name))
    return BlockManager(arrays, left_name, right_name, lk, rk, keys_effective=True)


class KNNBlockBuilder:
    """Exact top-k cosine kNN blocks (reference defaults k=5,
    ``blockbuilder.py:139-147``), optionally hubness-reduced
    (``hubness="csls"`` / ``"mutual_rank"`` — the kiez options of
    ``KiezEmbeddingBlockBuilder``, ``blockbuilder.py:107-207``, with
    ``n_candidates`` as the over-retrieval width)."""

    def __init__(self, k: int = 5, hubness: str | None = None, n_candidates: int = 10):
        if hubness not in (None, "csls", "mutual_rank"):
            raise ValueError(f"hubness must be None|csls|mutual_rank, got {hubness!r}")
        self.k = k
        self.hubness = hubness
        self.n_candidates = max(n_candidates, k)

    def build_blocks(
        self, left_emb: DataFrame, right_emb: DataFrame, left_name: str, right_name: str
    ) -> BlockManager:
        if self.hubness is None:
            nn = topk_cosine_join(left_emb, right_emb, k=self.k, vec_col="vector")
        else:
            fn = csls_topk if self.hubness == "csls" else mutual_rank_topk
            nn = fn(
                left_emb,
                right_emb,
                k=self.k,
                n_candidates=self.n_candidates,
                id_col="id",
                vec_col="vector",
            )
        return _nn_to_blocks(nn, left_name, right_name)


class LSHKNNBlockBuilder:
    """Approximate kNN via MLlib BucketedRandomProjectionLSH — the
    100 TB path: no broadcast of the index side, similarity join is a
    distributed bucket join.

    ``bucket_length`` ~ typical inter-point distance on the unit sphere;
    ``distance_threshold`` prunes the join before the top-k window (2.0
    = no pruning since unit vectors are at most 2 apart).
    """

    def __init__(
        self,
        k: int = 5,
        num_hash_tables: int = 4,
        bucket_length: float = 0.5,
        distance_threshold: float = 1.2,
        seed: int = 42,
    ):
        self.k = k
        self.num_hash_tables = num_hash_tables
        self.bucket_length = bucket_length
        self.distance_threshold = distance_threshold
        self.seed = seed

    def build_blocks(
        self, left_emb: DataFrame, right_emb: DataFrame, left_name: str, right_name: str
    ) -> BlockManager:
        nn = ann_topk_lsh(
            left_emb,
            right_emb,
            k=self.k,
            id_col="id",
            vec_col="vector",
            num_hash_tables=self.num_hash_tables,
            bucket_length=self.bucket_length,
            distance_threshold=self.distance_threshold,
            seed=self.seed,
        )
        return _nn_to_blocks(nn, left_name, right_name)


class ClusterBlockBuilder:
    """Cluster union(left, right) embeddings; one block per cluster per
    side (M14 shape, ``blockbuilder.py:286-436``) — KMeans instead of
    HDBSCAN: distributed fit, no driver collect, no noise label."""

    def __init__(self, n_clusters: int = 10, seed: int = 42, max_iter: int = 20):
        self.n_clusters = n_clusters
        self.seed = seed
        self.max_iter = max_iter

    def build_blocks(
        self, left_emb: DataFrame, right_emb: DataFrame, left_name: str, right_name: str
    ) -> BlockManager:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        both = left_emb.select(F.lit("L").alias("side"), "id", "vector").unionByName(
            right_emb.select(F.lit("R").alias("side"), "id", "vector")
        )
        feat = both.withColumn(
            "features", array_to_vector(F.col("vector").cast("array<double>"))
        )
        model = KMeans(
            k=self.n_clusters, seed=self.seed, maxIter=self.max_iter, featuresCol="features"
        ).fit(feat)
        labeled = model.transform(feat).select(
            "side", "id", F.col("prediction").cast("string").alias("block_key")
        )
        left_side = labeled.where(F.col("side") == "L").select("block_key", "id")
        right_side = labeled.where(F.col("side") == "R").select("block_key", "id")
        return BlockManager.from_key_assignments(
            left_side, right_side, left_name, right_name
        )
