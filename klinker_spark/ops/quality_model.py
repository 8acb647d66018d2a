"""Trainable document-quality classifier — the fasttext/CCNet-style
"does this look like the trusted corpus?" model, built on MLlib
(HashingTF bag-of-words → LogisticRegression).

Complements the deterministic quality signals (``textstats.quality_score``
heuristics, ``curation.unigram_logprob_quality`` LM scoring,
``curation.dsir_importance`` importance weights) with the *learned*
variant real pipelines train: positives = a trusted slice (wiki/books),
negatives = the raw crawl; every document is scored with the model's
positive-class probability and filtered/resampled by it.

Scale: HashingTF is a stateless per-row transform (no vocabulary
shuffle — the hashing trick exists precisely for this); LogisticRegression
training is MLlib's distributed L-BFGS (tree-aggregated gradients, a
fixed number of passes over the cached feature frame); scoring is one
map-side model broadcast.  The model itself is O(n_features) — trivially
broadcastable.

Registered rows-only: L-BFGS float reduction order is not bit-stable
across engines, so there is no exact SQL oracle (same class as the
DeepBlocker/KMeans fits); invariants are pinned by unit tests on
separable corpora instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import ckpt
from ..functions.text import tokenize

__all__ = [
    "train_quality_scores",
    "train_quality_scores_deterministic",
    "sequential_logistic_gd",
]


def sequential_logistic_gd(
    rows: list[tuple[list[float], float]], d1: int, iters: int, lr: float
) -> list[float]:
    """Fixed-iteration full-batch logistic GD with STRICTLY SEQUENTIAL
    float64 accumulation — the trainer behind every exact-oracle
    trained-model twin (`quality_classifier_md5`, the CTT twin).
    ``rows``: (x, y) in the md5 order the oracle's ``ORDER BY``
    reproduces; ``d1`` = len(x) including the appended bias.  Every
    operation (sequential dot, per-feature in-order gradient sums,
    ``w - lr*g/m`` update) maps 1:1 onto the unrolled DuckDB CTE chain
    (`_gd_iter_ctes`)."""
    import math

    m = len(rows)
    w = [0.0] * d1
    for _ in range(iters):
        g = [0.0] * d1
        for x, y in rows:
            z = 0.0
            for j in range(d1):
                z += w[j] * x[j]
            e = 1.0 / (1.0 + math.exp(-z)) - y
            for j in range(d1):
                g[j] += e * x[j]
        for j in range(d1):
            w[j] = w[j] - lr * g[j] / m
    return w


@ckpt.scope()
def train_quality_scores(
    docs: DataFrame,
    positive_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = 1024,
    max_iter: int = 25,
    reg_param: float = 0.01,
) -> DataFrame:
    """Train pos-vs-rest on hashed bag-of-words and score every doc.

    ``positive_filter``: boolean Column marking the trusted slice.
    Output: ``(doc_id, label, prob)`` — ``prob`` is the positive-class
    probability, rounded to 6 dp; rank/filter the corpus by it.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF
    from pyspark.ml.functions import vector_to_array

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        positive_filter.cast("double").alias("label"),
        # NULL text → empty bag, not a NULL array HashingTF chokes on
        F.coalesce(
            tokenize(text_col, 1, [], keep_duplicates=True),
            F.array().cast("array<string>"),
        ).alias("toks"),
    )
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=n_features)
    feat = ckpt.persist(tf.transform(base))
    lr = LogisticRegression(
        maxIter=max_iter,
        regParam=reg_param,
        featuresCol="features",
        labelCol="label",
    )
    model = lr.fit(feat)
    out = ckpt.checkpoint(
        model.transform(feat)
        .select(
            "doc_id",
            F.col("label").cast("int").alias("label"),
            F.round(vector_to_array("probability")[1], 6).alias("prob"),
        )
    )
    return ckpt.keep(out)


@ckpt.scope()
def train_quality_scores_deterministic(
    docs: DataFrame,
    positive_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = 8,
    n_train: int = 200,
    iters: int = 4,
    lr: float = 0.5,
) -> DataFrame:
    """Exact-oracle twin of :func:`train_quality_scores`: the same
    hashed-bag-of-words → logistic-regression → score-everything
    pipeline, made bit-reproducible on any engine (the
    ``first_pc_power`` recipe — SURVEY-era lesson that DuckDB list
    primitives match sequential Python float64 loops bit-for-bit).

    Differences from the production path, each forced by determinism:

    - fixed-iteration FULL-BATCH gradient descent (``iters`` × one
      pass) instead of L-BFGS — no line search, no convergence test,
      no distributed float reduction;
    - the training slice is the first ``n_train`` docs in md5(id)
      order (a uniform deterministic sample), and the gradient is
      accumulated SEQUENTIALLY in that order on the driver —
      n_train × (n_features+2) floats, a bounded collect like the
      SIF-PC sample;
    - features are whitespace-token counts hashed by md5-prefix into
      ``n_features`` buckets, L1-normalized per doc, plus a bias —
      integer counts and one exact division, so the feature matrix is
      bit-identical across engines.

    Scoring is fully distributed: the trained weight vector is a
    literal array and every document's probability is a sequential
    fold — one projection, no shuffle.  Output: ``(doc_id, label,
    prob)``, prob rounded to 6 dp.

    The production path (MLlib HashingTF 1024-dim + L-BFGS) remains
    the quality recommendation; this twin exists so the TRAINED-model
    family has a value-checked member (same contract as
    ``sif_pc_removal_md5`` for the PCA family).
    """
    D = n_features
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    j_expr = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint") % D
    )
    ht = toks.select("doc_id", j_expr.alias("j"))
    per_doc = ht.groupBy("doc_id").agg(
        *[
            F.sum((F.col("j") == jj).cast("double")).alias(f"c{jj}")
            for jj in range(D)
        ],
        F.count("*").cast("double").alias("n"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        positive_filter.cast("double").alias("y"),
        F.md5(F.col(id_col).cast("string")).alias("h"),
    )
    feats = base.join(per_doc, "doc_id", "left")
    x_cols = [
        F.when(
            F.col("n").isNotNull() & (F.col("n") > 0), F.col(f"c{jj}") / F.col("n")
        ).otherwise(F.lit(0.0))
        for jj in range(D)
    ] + [F.lit(1.0)]
    fx = ckpt.persist(feats.select("doc_id", "y", "h", F.array(*x_cols).alias("x")))

    train_rows = fx.orderBy("h", "doc_id").limit(n_train).collect()
    if not train_rows:
        raise ValueError("train_quality_scores_deterministic: empty corpus")
    # md5 order — matches the oracle's ORDER BY
    w = sequential_logistic_gd(
        [(r["x"], r["y"]) for r in train_rows], D + 1, iters, lr
    )
    w_lit = F.array(*[F.lit(float(v)) for v in w])
    dot = F.aggregate(
        F.zip_with(w_lit, F.col("x"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    out = ckpt.checkpoint(
        fx.select(
            "doc_id",
            F.col("y").cast("int").alias("label"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-dot)), 6).alias("prob"),
        )
    )
    return ckpt.keep(out)
