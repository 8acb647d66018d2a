"""DeepBlocker-style self-supervised encoders, torch-free (M6-M8).

Reference: ``/root/reference/src/klinker/encoders/deepblocker.py`` +
``models/deepblocker.py`` — (a) an autoencoder trained on the
concatenated left+right feature matrix whose encoder half embeds both
sides (``models/deepblocker.py:60-85``, M6); (b) cross-tuple training:
synthesize positive/negative tuple pairs by token perturbation and
train a siamese classifier (``encoders/deepblocker.py:181-357``, M7);
(c) the hybrid stack (M8).

This container has no torch, so the engine keeps the *shape* of each
method with classical, fully distributed equivalents:

- ``AutoencoderFrameEncoder``: a **linear** autoencoder's optimum is
  the PCA subspace (Baldi & Hornik 1989), so "training" is an SVD on a
  driver-collected sample — the same sample-then-fit collect boundary
  the reference uses for PCA (``pretrained.py:215-231``) — and encoding
  is a distributed projection with the components as literal arrays.
- ``CrossTupleTrainingEncoder``: perturbation is a deterministic
  hash-gated token dropout (a DataFrame transform, as SURVEY M7 notes);
  the siamese classifier is MLlib ``LogisticRegression`` on the
  element-wise |u−v| combination (distributed training, no driver
  matrix); its learned |coefficients| re-weight embedding dimensions —
  the dimensions that distinguish perturbed-copies from random pairs
  get amplified, which is precisely the summarizer's job in the
  reference.
- ``HybridDeepBlockerEncoder``: AE projection, then CTT re-weighting
  (composition, M8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import ckpt
from .hashing import HashingWordEmbedder

__all__ = [
    "AutoencoderFrameEncoder",
    "CrossTupleTrainingEncoder",
    "HybridDeepBlockerEncoder",
]


def _project_expr(vec_col, components: list[list[float]]):
    """vector → [vector·c for c in components] as one column expression."""
    comps = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in components])
    return F.transform(
        comps,
        lambda c: F.aggregate(
            F.zip_with(vec_col, c, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        ),
    )


class AutoencoderFrameEncoder:
    """M6: closed-form linear autoencoder (PCA projection).

    ``fit_encode(left_conc, right_conc)`` mirrors the reference's
    train-on-both-sides / encode-both-sides flow
    (``encoders/deepblocker.py:112-178``).
    """

    def __init__(
        self, out_dim: int = 8, in_dim: int = 32, seed: int = 42, sample_n: int = 10_000,
        attr_encoder=None,
    ):
        self.out_dim = out_dim
        self.in_dim = in_dim
        self.seed = seed
        self.sample_n = sample_n
        self.attr_encoder = attr_encoder or HashingWordEmbedder(dim=in_dim, seed=seed)

    def _components(self, emb: DataFrame) -> list[list[float]]:
        import numpy as np

        sample = emb.orderBy(F.pmod(F.xxhash64("id", F.lit(self.seed)), F.lit(1 << 31))).limit(
            self.sample_n
        )
        mat = np.array([r["vector"] for r in sample.select("vector").collect()])
        mat = mat - mat.mean(axis=0, keepdims=True)
        _, _, vt = np.linalg.svd(mat, full_matrices=False)
        return [[float(x) for x in row] for row in vt[: self.out_dim]]

    def fit_encode(self, left_conc: DataFrame, right_conc: DataFrame):
        # each side feeds both the SVD sample and the final projection —
        # persist so the encode pipeline runs once per side
        left_emb = ckpt.persist(self.attr_encoder.encode(left_conc))
        right_emb = ckpt.persist(self.attr_encoder.encode(right_conc))
        both = left_emb.unionByName(right_emb)
        comps = self._components(both)
        proj = lambda df: df.select("id", _project_expr(F.col("vector"), comps).alias("vector"))
        return proj(left_emb), proj(right_emb)


def _perturb(conc: DataFrame, drop_pct: int, seed: int) -> DataFrame:
    """Deterministic token dropout: token survives iff
    ``xxhash64(token, id, seed) % 100 >= drop_pct`` (the reference
    perturbs by random token ops, ``encoders/deepblocker.py:181-357``;
    hash-gating keeps it reproducible and shuffle-safe)."""
    toks = F.split(F.col("text"), " ")
    kept = F.filter(
        toks,
        lambda t: F.pmod(F.xxhash64(t, F.col("id"), F.lit(seed)), F.lit(100)) >= drop_pct,
    )
    return conc.select("id", F.array_join(kept, " ").alias("text"))


class CrossTupleTrainingEncoder:
    """M7: cross-tuple training with an MLlib siamese head.

    Positives: (entity, hash-dropout perturbation of itself).
    Negatives: (entity, pseudo-random other entity).  Classifier:
    LogisticRegression on |u−v|; the re-weighted encoder returns
    ``vector ⊙ |coef|`` — distances shrink along dimensions the
    classifier found uninformative.
    """

    def __init__(
        self, dim: int = 32, seed: int = 42, drop_pct: int = 20, attr_encoder=None,
    ):
        self.dim = dim
        self.seed = seed
        self.drop_pct = drop_pct
        self.attr_encoder = attr_encoder or HashingWordEmbedder(dim=dim, seed=seed)

    def _pairs(self, conc: DataFrame, emb: DataFrame) -> DataFrame:
        pos_emb = self.attr_encoder.encode(_perturb(conc, self.drop_pct, self.seed))
        pos = emb.alias("a").join(
            pos_emb.select(F.col("id"), F.col("vector").alias("v2")), "id"
        ).select(F.col("vector").alias("v1"), "v2", F.lit(1.0).alias("label"))
        # negative partner: deterministic pseudo-random shift by hash rank
        w = F.pmod(F.xxhash64("id", F.lit(self.seed + 1)), F.lit(1 << 31))
        shuffled = emb.select(F.col("vector").alias("v2"), w.alias("_w"))
        ordered = emb.select("vector", F.col("id"))
        from pyspark.sql import Window

        r1 = ordered.withColumn(
            "_r", F.row_number().over(Window.orderBy(F.xxhash64("id", F.lit(self.seed + 2))))
        )
        r2 = shuffled.withColumn("_r", F.row_number().over(Window.orderBy("_w")))
        neg = r1.join(r2, "_r").select(
            F.col("vector").alias("v1"), "v2", F.lit(0.0).alias("label")
        )
        return pos.unionByName(neg)

    def _coef_weights(self, pairs: DataFrame) -> list[float]:
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.functions import array_to_vector

        feat = pairs.select(
            array_to_vector(
                F.zip_with("v1", "v2", lambda a, b: F.abs(a - b)).cast("array<double>")
            ).alias("features"),
            "label",
        )
        lr = LogisticRegression(maxIter=20, regParam=0.01).fit(feat)
        return [abs(float(c)) for c in lr.coefficients]

    def fit_encode(self, left_conc: DataFrame, right_conc: DataFrame):
        left_emb = self.attr_encoder.encode(left_conc)
        right_emb = self.attr_encoder.encode(right_conc)
        weights = self._coef_weights(self._pairs(left_conc, left_emb))
        w_col = F.array(*[F.lit(w) for w in weights])
        rw = lambda df: df.select(
            "id", F.zip_with("vector", w_col, lambda v, w: v * w).alias("vector")
        )
        return rw(left_emb), rw(right_emb)


class HybridDeepBlockerEncoder:
    """M8: autoencoder projection feeding the CTT re-weighting."""

    def __init__(self, out_dim: int = 8, in_dim: int = 32, seed: int = 42, drop_pct: int = 20):
        self.ae = AutoencoderFrameEncoder(out_dim=out_dim, in_dim=in_dim, seed=seed)
        self.out_dim = out_dim
        self.seed = seed
        self.drop_pct = drop_pct

    def fit_encode(self, left_conc: DataFrame, right_conc: DataFrame):
        from pyspark.sql import Window

        left_p, right_p = self.ae.fit_encode(left_conc, right_conc)

        # CTT pairs built in the *projected* space: positives = vector
        # vs deterministically jittered copy (stand-in for re-encoding a
        # perturbed tuple), negatives = pseudo-random partner.
        pos = left_p.select(
            F.col("vector").alias("v1"),
            F.transform(
                "vector",
                lambda x: x
                * (1.0 - F.pmod(F.xxhash64(F.col("id"), F.lit(self.seed)), F.lit(100)) / 500.0),
            ).alias("v2"),
            F.lit(1.0).alias("label"),
        )
        r1 = left_p.withColumn(
            "_r", F.row_number().over(Window.orderBy(F.xxhash64("id", F.lit(self.seed + 2))))
        )
        r2 = left_p.select(F.col("vector").alias("v2"), "id").withColumn(
            "_r", F.row_number().over(Window.orderBy(F.xxhash64("id", F.lit(self.seed + 3))))
        )
        neg = r1.join(r2.drop("id"), "_r").select(
            F.col("vector").alias("v1"), "v2", F.lit(0.0).alias("label")
        )
        ctt = CrossTupleTrainingEncoder(dim=self.out_dim, seed=self.seed, drop_pct=self.drop_pct)
        weights = ctt._coef_weights(pos.unionByName(neg))
        w_col = F.array(*[F.lit(w) for w in weights])
        rw = lambda df: df.select(
            "id", F.zip_with("vector", w_col, lambda v, w: v * w).alias("vector")
        )
        return rw(left_p), rw(right_p)
