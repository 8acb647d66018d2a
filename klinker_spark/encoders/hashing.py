"""Frame encoders — entity text → embedding DataFrame ``(id, vector)``.

Reference encoder stack (``/root/reference/src/klinker/encoders/
pretrained.py``): gensim word vectors + mean pooling (M1/M3,
``:259-384``), SIF weighting + first-PC removal (M2, ``:427-596``).
The pretrained-model lookup is environment-dependent (gensim/torch are
not available here), so the engine's default word embedder is a
**deterministic feature-hash embedder**: token → pseudo-random unit
vector derived from ``xxhash64(token, dim)``.  This preserves the
token-identity geometry word embedders rely on for blocking (same
token ⇒ same vector; entity similarity ⇒ token overlap — the
hashing-trick analogue of TF embedding) while staying 100% JVM-side
and reproducible.  A real model drops in by replacing
``token_vector_expr`` with a ``mapInPandas`` lookup against broadcast
KeyedVectors (M1 strategy per SURVEY §2.9) without touching the
aggregation plan.

Pooling is pure DataFrame algebra: explode tokens → per-token vector →
``aggregate(collect_list, zip_with(+))`` per entity — one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import ckpt
from ..functions.text import tokenize

__all__ = [
    "token_vector_expr",
    "HashingWordEmbedder",
    "SIFHashingWordEmbedder",
    "initialize_and_fill",
    "first_pc_power",
    "topk_pc_power",
]


def token_vector_expr(token: Column, dim: int, seed: int = 42, hash_fn: str = "xxhash64") -> Column:
    """Deterministic pseudo-random unit-scale vector for a token:
    component d = xxhash64(token, seed*dim + d) mapped into [-1, 1].

    ``hash_fn="md5"``: component d = the first 6 hex digits of
    ``md5(d + ":" + token)`` mapped into [-1, 1) — any engine with md5 +
    substring reproduces the exact vector (``seed`` is unused; the
    digest is the randomness).  ~dim md5 digests per token vs dim cheap
    re-hashes — use for cross-engine-checked paths, not the hot path.
    """
    if hash_fn == "md5":
        return F.array(
            *[
                F.conv(
                    F.substring(F.md5(F.concat_ws(":", F.lit(str(d)), token)), 1, 6), 16, 10
                ).cast("bigint")
                / F.lit(float(1 << 23))
                - 1.0
                for d in range(dim)
            ]
        )
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(F.xxhash64(token, d + F.lit(seed * dim)), F.lit(2_000_001)) / 1_000_000.0
            - 1.0
        ),
    )


def _mean_pool(weighted_vecs: Column, total_weight: Column, dim: int) -> Column:
    zero = F.array_repeat(F.lit(0.0), dim)
    summed = F.aggregate(weighted_vecs, zero, lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b))
    return F.transform(summed, lambda x: x / total_weight)


class HashingWordEmbedder:
    """Unweighted mean of token vectors (M3 shape,
    ``pretrained.py:389-424``)."""

    def __init__(
        self, dim: int = 32, seed: int = 42, min_token_length: int = 3, hash_fn: str = "xxhash64"
    ):
        self.dim = dim
        self.seed = seed
        self.min_token_length = min_token_length
        self.hash_fn = hash_fn

    def _token_weights(self, tokens: DataFrame) -> DataFrame:
        """(id, token) → (id, token, weight).  Uniform by default."""
        return tokens.withColumn("weight", F.lit(1.0))

    def encode(self, conc: DataFrame) -> DataFrame:
        """``(id, text)`` → ``(id, vector array<double>)``."""
        tokens = conc.select(
            "id", F.explode(tokenize("text", self.min_token_length)).alias("token")
        ).where(F.col("token") != "")
        weighted = self._token_weights(tokens).select(
            "id",
            F.transform(
                token_vector_expr(F.col("token"), self.dim, self.seed, self.hash_fn),
                lambda x: x * F.col("weight"),
            ).alias("wvec"),
            "weight",
        )
        return weighted.groupBy("id").agg(
            _mean_pool(
                F.collect_list("wvec"), F.sum("weight"), self.dim
            ).alias("vector")
        )


class SIFHashingWordEmbedder(HashingWordEmbedder):
    """Smooth-inverse-frequency weighted pooling (M2 weighting,
    ``pretrained.py:470-516`` = A6): token weight ``a / (a + freq/total)``
    computed as a corpus aggregate and broadcast-joined onto tokens.

    First-principal-component removal (``pretrained.py:518-531``) is
    intentionally offered separately (``remove_pc``) since it needs a
    driver-side SVD on a sample — the same collect boundary the
    reference has.
    """

    def __init__(
        self,
        dim: int = 32,
        sif_a: float = 1e-3,
        seed: int = 42,
        min_token_length: int = 3,
        hash_fn: str = "xxhash64",
    ):
        super().__init__(
            dim=dim, seed=seed, min_token_length=min_token_length, hash_fn=hash_fn
        )
        self.sif_a = sif_a

    def _token_weights(self, tokens: DataFrame) -> DataFrame:
        freq = tokens.groupBy("token").agg(F.count("*").alias("freq"))
        # corpus total as a 1-row broadcast aggregate — no driver count() job
        total = tokens.select(F.count("*").alias("_total"))
        weights = freq.crossJoin(F.broadcast(total)).select(
            "token",
            (self.sif_a / (self.sif_a + F.col("freq") / F.col("_total"))).alias("weight"),
        )
        return tokens.join(F.broadcast(weights), "token")


def remove_first_pc(embeddings: DataFrame, sample_n: int = 10_000, seed: int = 42) -> DataFrame:
    """Remove the first principal component (M2, ``pretrained.py:518-531``).

    PC estimated by numpy SVD on a driver-collected sample (the
    reference's TruncatedSVD is equally driver-side); the projection
    ``v - (v·u)u`` is then applied distributively as a column expression
    with the component as a literal array.
    """
    import numpy as np

    # Diamond dependency: the embedding pipeline feeds both the SVD
    # sample and the final projection — persist so the (often expensive)
    # encode runs once, as the reference persists reused intermediates.
    embeddings = ckpt.persist(embeddings)
    sample = embeddings.orderBy(F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(1 << 31))).limit(
        sample_n
    )
    mat = np.array([r["vector"] for r in sample.select("vector").collect()])
    _, _, vt = np.linalg.svd(mat, full_matrices=False)
    u = [float(x) for x in vt[0]]
    u_col = F.array(*[F.lit(x) for x in u])
    proj = F.aggregate(
        F.zip_with(F.col("vector"), u_col, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    return embeddings.select(
        "id",
        F.zip_with(F.col("vector"), u_col, lambda v, uu: v - proj * uu).alias("vector"),
    )


def first_pc_power(
    embeddings: DataFrame, sample_n: int = 2000, iters: int = 30
) -> list[float]:
    """Deterministic first principal component via fixed-iteration power
    method — the cross-engine-checkable twin of the SVD in
    :func:`remove_first_pc` (M2, ref ``pretrained.py:518-531``).

    Every arithmetic step is reproducible in any engine that has md5,
    ``*``, ``+``, ``/`` and ``sqrt``:

    - sample = first ``sample_n`` rows ordered by ``(md5(id), id)``;
    - C = uncentered second-moment matrix, each entry a SEQUENTIAL sum
      in sample order (bit-identical to DuckDB's
      ``list_sum(list(x ORDER BY ...))`` — verified empirically);
    - ``iters`` power steps from ``u0 = 1/sqrt(d)·[1..1]``, sequential
      dots (= ``list_inner_product``) and IEEE sqrt/divide.

    Convergence to the true first PC needs a spectral gap (λ2/λ1 ≲ 0.5
    is ample at 30 iters); determinism does NOT — both engines run the
    same finite recurrence, so outputs agree to ~1e-13 even on
    degenerate spectra.  The projection ``v - (v·u)u`` is sign-
    invariant, so the power method's sign ambiguity never shows.

    The ``sample_n`` collect is the same driver boundary as the
    reference's TruncatedSVD fit (and :func:`remove_first_pc`).
    """
    import math

    rows = (
        embeddings.select(F.col("id").cast("string").alias("sid"), "vector")
        .withColumn("_h", F.md5(F.col("sid")))
        .orderBy("_h", "sid")
        .limit(sample_n)
        .collect()
    )
    vecs = [[float(x) for x in r["vector"]] for r in rows]
    if not vecs:
        return []
    d = len(vecs[0])
    C = [[0.0] * d for _ in range(d)]
    for v in vecs:
        for i in range(d):
            vi = v[i]
            ci = C[i]
            for j in range(d):
                ci[j] += vi * v[j]
    u = [1.0 / math.sqrt(d)] * d
    for _ in range(iters):
        w = []
        for i in range(d):
            s = 0.0
            ci = C[i]
            for j in range(d):
                s += ci[j] * u[j]
            w.append(s)
        n2 = 0.0
        for x in w:
            n2 += x * x
        n = math.sqrt(n2)
        if n == 0.0:  # zero matrix: keep the start vector
            break
        u = [x / n for x in w]
    return u


def topk_pc_power(
    embeddings: DataFrame, k: int = 2, sample_n: int = 2000, iters: int = 20
) -> list[list[float]]:
    """Top-``k`` principal directions via fixed-iteration power method
    with Hotelling deflation — the k-component extension of
    :func:`first_pc_power`, same cross-engine determinism contract:
    md5-ordered sample, SEQUENTIAL second-moment sums, sequential
    dots, and after each extracted component ``u`` the deflation
    ``C[i][j] -= λ·u[i]·u[j]`` with ``λ = u·(C·u)`` — every operation
    expressible as DuckDB list primitives (indexed-lambda
    ``list_transform`` for the rank-one update), so a k-dim PCA
    projection can carry an exact oracle.  Components are NOT
    re-orthogonalized beyond deflation (20 iterations on a deflated
    matrix reproduce identically on both engines whether or not they
    have converged — determinism needs the same recurrence, not a
    spectral gap)."""
    import math

    rows = (
        embeddings.select(F.col("id").cast("string").alias("sid"), "vector")
        .withColumn("_h", F.md5(F.col("sid")))
        .orderBy("_h", "sid")
        .limit(sample_n)
        .collect()
    )
    vecs = [[float(x) for x in r["vector"]] for r in rows]
    if not vecs:
        return []
    d = len(vecs[0])
    C = [[0.0] * d for _ in range(d)]
    for v in vecs:
        for i in range(d):
            vi = v[i]
            ci = C[i]
            for j in range(d):
                ci[j] += vi * v[j]
    comps: list[list[float]] = []
    for _ in range(k):
        u = [1.0 / math.sqrt(d)] * d
        for _ in range(iters):
            w = []
            for i in range(d):
                s = 0.0
                ci = C[i]
                for j in range(d):
                    s += ci[j] * u[j]
                w.append(s)
            n2 = 0.0
            for x in w:
                n2 += x * x
            n = math.sqrt(n2)
            if n == 0.0:
                break
            u = [x / n for x in w]
        comps.append(u)
        # Hotelling deflation: C -= λ u uᵀ, λ = u·(C·u) — sequential
        w = []
        for i in range(d):
            s = 0.0
            ci = C[i]
            for j in range(d):
                s += ci[j] * u[j]
            w.append(s)
        lam = 0.0
        for i in range(d):
            lam += u[i] * w[i]
        for i in range(d):
            ci = C[i]
            ui = u[i]
            for j in range(d):
                ci[j] = ci[j] - lam * ui * u[j]
    return comps


def initialize_and_fill(
    all_ids: DataFrame, known: DataFrame, dim: int = 32, seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic per-id random init, overwritten by known embeddings
    (M10, ``encoders/base.py:168-218``): ``all_ids ⟕ known`` +
    ``coalesce(vector, hash-init(id))`` — no torch xavier, same shape.
    """
    init = token_vector_expr(F.col("id"), dim, seed, hash_fn)
    return all_ids.join(known, "id", "left").select(
        "id", F.coalesce(F.col("vector"), init).alias("vector")
    )


#: Above this many literals (out_dim × in_dim) the projection switches
#: from a Catalyst literal expression to a broadcast numpy matmul —
#: the same guard as PROBE_LITERAL_MAX_CENTROIDS / positional_dot:
#: interpreted zip_with trees stop being a win as they grow.
PROJECT_LITERAL_MAX_CELLS = 4096


def _project_matrix_expr(vec_col: str, components, offsets=None) -> "Column":
    """Project ``vec_col`` (array<double>, dim d) onto each row of
    ``components`` (out_dim × d literals), minus per-component scalar
    ``offsets`` — a pure Catalyst expression, applied distributively
    like ``remove_first_pc``."""
    outs = []
    for j, comp in enumerate(components):
        row = F.array(*[F.lit(float(x)) for x in comp])
        dotp = F.aggregate(
            F.zip_with(F.col(vec_col), row, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if offsets is not None:
            dotp = dotp - F.lit(float(offsets[j]))
        outs.append(dotp)
    return F.array(*outs)


def _project_matmul(df: DataFrame, components, offsets=None) -> DataFrame:
    """Broadcast-matmul twin of :func:`_project_matrix_expr` for large
    projection matrices: one Arrow batch → one BLAS matmul."""
    import numpy as np

    comps = np.asarray(components, dtype=np.float64)
    offs = None if offsets is None else np.asarray(offsets, dtype=np.float64)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((comps, offs))
    id_type = df.schema["id"].dataType.simpleString()

    def run(batches):
        import pandas as pd

        b_comps, b_offs = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
            out = mat @ b_comps.T
            if b_offs is not None:
                out = out - b_offs
            yield pd.DataFrame(
                {"id": pdf["id"], "vector": [v.tolist() for v in out]}
            )

    from ..session import widen_for_kernel

    return widen_for_kernel(df.select("id", "vector")).mapInPandas(
        run, schema=f"id {id_type}, vector array<double>"
    )


def _project(df: DataFrame, components, offsets=None) -> DataFrame:
    comps = list(components)
    if comps and len(comps) * len(comps[0]) > PROJECT_LITERAL_MAX_CELLS:
        return _project_matmul(df, comps, offsets)
    return df.select("id", _project_matrix_expr("vector", comps, offsets).alias("vector"))


def reduce_dim(
    left_emb: DataFrame,
    right_emb: DataFrame,
    out_dim: int,
    method: str = "pca",
    sample_n: int = 10_000,
    seed: int = 42,
    umap_kwargs: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Joint dimensionality reduction of two embedding frames
    (``reduce_dim_to``, reference ``pretrained.py:533-561``): fit on
    the CONCATENATION of both sides, transform each, return the pair.

    Methods:

    - ``"pca"`` (default): components from a numpy SVD of a
      driver-collected joint sample (the reference's TruncatedSVD is
      equally driver-side); the projection applies distributively as a
      literal-matrix Catalyst expression — scales to any row count.
    - ``"random_projection"``: seeded Gaussian projection (the
      Johnson-Lindenstrauss route the reference itself uses inside
      LightEA, ``light_ea.py:23-32``); no fit at all, fully
      deterministic, distributed apply.
    - ``"umap"``: the reference's exact choice, behind an optional
      import (umap-learn is not in this environment).  UMAP has no
      out-of-sample transform worth trusting at scale, so like the
      reference it fit_transforms the COLLECTED union — a driver-side
      boundary; prefer pca/random_projection on big frames.

    Same guards as the reference: reducing to the current dim returns
    the inputs unchanged; reducing UP raises ``ValueError``.
    """
    import numpy as np

    row = left_emb.select(F.size("vector").alias("d")).first()
    in_dim = int(row["d"]) if row else 0
    if out_dim == in_dim or in_dim == 0:
        return left_emb, right_emb
    if out_dim > in_dim:
        raise ValueError(
            f"Cannot reduce embeddings of dimensionality {in_dim} to higher "
            f"dimensionality of {out_dim}!"
        )
    if method == "pca":
        both = left_emb.select("vector").unionByName(right_emb.select("vector"))
        sample = both.orderBy(
            F.pmod(F.xxhash64(F.to_json("vector"), F.lit(seed)), F.lit(1 << 31))
        ).limit(sample_n)
        mat = np.array([r["vector"] for r in sample.collect()])
        mean = mat.mean(axis=0)
        _, _, vt = np.linalg.svd(mat - mean, full_matrices=False)
        comps = vt[:out_dim]
        # center the TRANSFORM too: project (v - mean), i.e. subtract
        # the constant mean·compⱼ per component — projecting raw
        # vectors with centered components adds a constant offset that
        # distorts downstream cosine ordering
        offsets = comps @ mean
        return _project(left_emb, comps, offsets), _project(right_emb, comps, offsets)
    if method == "random_projection":
        rng = np.random.RandomState(seed)
        r = rng.randn(out_dim, in_dim)
        r /= np.linalg.norm(r, axis=1)[:, None]
        return _project(left_emb, r), _project(right_emb, r)
    if method == "umap":
        try:
            from umap import UMAP  # type: ignore
        except ImportError as e:
            raise ImportError(
                "umap-learn is not installed; use method='pca' or "
                "'random_projection' for a model-free reduction"
            ) from e
        kw = {"n_neighbors": 15, "min_dist": 0.1, **(umap_kwargs or {})}
        l_rows = left_emb.select("id", "vector").collect()
        r_rows = right_emb.select("id", "vector").collect()
        all_vec = np.array([r["vector"] for r in l_rows + r_rows])
        reduced = UMAP(n_components=out_dim, **kw).fit_transform(all_vec)
        from ..session import local_df

        spark = left_emb.sparkSession
        mk = lambda rows, lo: local_df(  # noqa: E731
            spark,
            [
                (rows[i]["id"], [float(x) for x in reduced[lo + i]])
                for i in range(len(rows))
            ],
            "id string, vector array<double>",
        )
        return mk(l_rows, 0), mk(r_rows, len(l_rows))
    raise ValueError(f"method must be pca|random_projection|umap, got {method!r}")
