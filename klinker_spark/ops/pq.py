"""Product-quantization ANN (Jégou, Douze, Schmid 2011, "Product
Quantization for Nearest Neighbor Search") — the memory-compressed
search family beyond the engine's IVF/LSH paths.

Why it matters at 100 TB: a 768-dim float32 corpus is 3 KB/vector; PQ
stores ``m`` one-byte codes (m=8-64), a 50-400× compression, so the
searchable representation of a billion-vector corpus fits in cluster
RAM.  Search uses asymmetric distance computation (ADC): per query,
one small ``m × k_codes`` lookup table of exact subspace distances,
then every candidate costs ``m`` table lookups instead of ``dim``
multiply-adds.

Spark decomposition:

- ``pq_train``  — codebooks from the shared coarse quantizer
  (``similarity._fit_centroids``; ``hash_sample``: the ``k_codes``
  md5-ranked vectors sliced per subspace — deterministic, any engine
  reproduces it, giving the whole pipeline an exact DuckDB oracle;
  ``kmeans``: per-subspace MLlib fits, better codebooks, rows-only
  checkable);
- ``pq_encode`` — one stateless projection: per subspace, argmin
  squared-L2 over the literal codebook (Catalyst expressions under
  ``PROJECT_LITERAL_MAX_CELLS``, broadcast-numpy ``mapInPandas``
  above);
- ``ann_topk_pq`` — the codes table streams through ``mapInPandas`` in
  whatever partitioning it has (never shuffled, the
  ``topk_cosine_sharded`` scan-in-place shape); queries + codebooks
  broadcast; each task emits its local top-k per query and one window
  merges ``n_partitions · |Q| · k`` scalar candidate rows.  ``expr``
  impl keeps the whole plan in Catalyst for the oracle.

Distances are squared L2 (the PQ-standard metric); on unit-norm
vectors ``d² = 2 − 2·cos``, so rankings match the cosine family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import ckpt

__all__ = [
    "pq_train",
    "pq_encode",
    "ann_topk_pq",
    "build_ivfpq_index",
    "ann_topk_ivfpq",
]

#: Literal-expression budget for encode/ADC expressions — same guard
#: family as PROBE_LITERAL_MAX_CENTROIDS (NOTES lesson 7).
PQ_LITERAL_MAX_CELLS = 4096


def pq_train(
    index: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    quantizer: str = "hash_sample",
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "",
) -> list[list[list[float]]]:
    """Train PQ codebooks: ``codebooks[s][c]`` = code ``c`` of subspace
    ``s`` (each a ``dim/m``-float list).  ``dim`` must divide by ``m``.

    The codes of a subspace are :func:`~.similarity._fit_centroids`
    over it.  ``hash_sample``: its ``k_codes`` rows ranked by
    ``(md5(salt || id), id)`` are the same in every subspace, so they
    are collected once and sliced — zero fit iterations, deterministic
    across engines (the exact-oracle mode).  ``kmeans``: one MLlib
    KMeans per subspace (seed ``seed + s``) over the sliced vectors.
    """
    from .similarity import _fit_centroids

    def subspace_dim(dim: int) -> int:
        if dim == 0 or dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        return dim // m

    ix = index.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector")
    )
    if quantizer == "hash_sample":
        rows = [v for _, v in _fit_centroids(ix, k_codes, quantizer, seed, salt)]
        ds = subspace_dim(len(rows[0]) if rows else 0)
        return [[r[s * ds : (s + 1) * ds] for r in rows] for s in range(m)]
    first = ix.select(F.size("vector").alias("d")).first()
    ds = subspace_dim(int(first["d"]) if first else 0)
    with ckpt.scope():
        sliced = ckpt.persist(
            ix.select("id", *[F.slice("vector", s * ds + 1, ds).alias(f"s{s}") for s in range(m)])
        )
        return [
            [v for _, v in _fit_centroids(
                sliced.select("id", F.col(f"s{s}").alias("vector")), k_codes, quantizer, seed + s
            )]
            for s in range(m)
        ]


def _sqdist_expr(sub, code: list):
    """Σ (sub[j] − code[j])² as a sequential left fold — the same
    float-op order as the DuckDB oracle's indexed-lambda ``list_sum``."""
    lit = F.array(*[F.lit(float(x)) for x in code])
    return F.aggregate(
        F.zip_with(sub, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, vector)`` → ``(id_col, codes array<int>)``: per subspace the
    argmin-squared-L2 code (ties → lowest code id).  Pure Catalyst
    under the literal budget, broadcast-numpy ``mapInPandas`` above —
    either way a stateless projection, zero shuffle.
    """
    m = len(codebooks)
    k = len(codebooks[0])
    ds = len(codebooks[0][0])
    ix = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector")
    )
    if m * k * ds <= PQ_LITERAL_MAX_CELLS:
        code_cols = []
        for s in range(m):
            sub = F.slice("vector", s * ds + 1, ds)
            dists = F.array(*[_sqdist_expr(sub, c) for c in codebooks[s]])
            code_cols.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
        return ix.select(F.col("id").alias(id_col), F.array(*code_cols).alias("codes"))

    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, ds)
    id_type = ix.schema["id"].dataType.simpleString()

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            v = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
            n = len(pdf)
            codes = np.empty((n, cb.shape[0]), dtype=np.int32)
            for s in range(cb.shape[0]):
                sub = v[:, s * cb.shape[2] : (s + 1) * cb.shape[2]]
                d = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d.argmin(axis=1)  # argmin: first (lowest) on ties
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    from ..session import widen_for_kernel

    return widen_for_kernel(ix).mapInPandas(
        encode, schema=f"id {id_type}, codes array<int>"
    ).withColumnRenamed("id", id_col)


def ann_topk_pq(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    query_id: str = "vec_id",
    index_id: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "matmul",
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ-coded index.

    Output: ``(query_id, neighbor_id, dist, rank)`` — ``dist`` the ADC
    squared-L2 approximation, rank 1..k by ``dist ASC, neighbor_id
    ASC`` (total order; partition layout cannot change results).

    ``matmul`` (default): queries + codebooks broadcast as numpy; the
    codes table streams through ``mapInPandas`` IN PLACE — per batch
    one ``(m,k,|Q|)`` distance-table gather scores every candidate in
    ``m`` lookups, and only per-partition top-k survivors reach the
    single merge window.  ``expr``: the same arithmetic as Catalyst
    expressions (literal codebooks) — the oracle-shaped baseline.
    """
    import numpy as np

    m = len(codebooks)
    ds = len(codebooks[0][0])
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    if impl == "expr":
        # dist table inlined: Σ_s ||q_sub − cb[s][code_s]||², each
        # subspace a literal-codebook element_at lookup
        terms = []
        for s in range(m):
            sub = F.slice("qv", s * ds + 1, ds)
            cb_lit = F.array(
                *[F.array(*[F.lit(float(x)) for x in c]) for c in codebooks[s]]
            )
            chosen = F.element_at(cb_lit, F.element_at("codes", s + 1) + 1)
            terms.append(
                F.aggregate(
                    F.zip_with(sub, chosen, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
        dist = terms[0]
        for t in terms[1:]:
            dist = dist + t
        cand = q.crossJoin(codes.select(F.col(index_id).alias("neighbor_id"), "codes")).select(
            "query_id", "neighbor_id", dist.alias("dist")
        )
        return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    if impl != "matmul":
        raise ValueError(f"impl must be matmul|expr, got {impl!r}")

    qrows = q.collect()  # queries are the broadcast side by contract
    qids = [r["query_id"] for r in qrows]
    qmat = np.array([r["qv"] for r in qrows], dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    codes = codes.select(F.col(index_id).alias("id"), "codes")
    id_type = codes.schema["id"].dataType.simpleString()
    q_type = q.schema["query_id"].dataType.simpleString()
    kk = int(k)

    def search(batches):
        import pandas as pd

        if len(qids) == 0:
            return
        # T[s][c][qi] = ||q_sub − code||² — exact subspace distances
        T = np.stack(
            [
                (
                    (qmat[:, s * ds : (s + 1) * ds][:, None, :] - cb[s][None, :, :]) ** 2
                ).sum(axis=2).T  # (k, |Q|)
                for s in range(cb.shape[0])
            ]
        )  # (m, k, |Q|)
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            gathered = T[np.arange(cb.shape[0])[:, None], c.T, :]  # (m, B, |Q|)
            d = gathered.sum(axis=0)  # (B, |Q|)
            nb = min(kk, d.shape[0])
            part = np.argpartition(d, nb - 1, axis=0)[:nb]  # (nb, |Q|) batch-local top
            for qi in range(d.shape[1]):
                rows_i = part[:, qi]
                yield pd.DataFrame(
                    {
                        "query_id": [qids[qi]] * len(rows_i),
                        "neighbor_id": pdf["id"].to_numpy()[rows_i],
                        "dist": d[rows_i, qi],
                    }
                )

    from ..session import widen_for_kernel

    cand = widen_for_kernel(codes).mapInPandas(
        search, schema=f"query_id {q_type}, neighbor_id {id_type}, dist double"
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _residual_expr(vec_col, cent_lit):
    """Elementwise ``vec − centroid`` (sequential ``zip_with``,
    matching the oracle's indexed-lambda order)."""
    return F.zip_with(vec_col, cent_lit, lambda a, b: a - b)


def build_ivfpq_index(
    index: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    k_codes: int = 16,
    quantizer: str = "hash_sample",
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF-PQ index (the IVFADC design, Jégou et al. 2011):
    coarse-quantize, PQ-encode the RESIDUALS ``x − centroid(x)``, and
    write the inverted lists as parquet PARTITIONED BY centroid id —
    each list row is just ``(id, codes array<int>)``, m small ints per
    vector, so the searchable index is 50-400× smaller than the raw
    float corpus AND a probe is a static partition prune (the
    ``build_ivf_index`` layout with PQ compression inside the lists).

    ``hash_sample``: coarse centroids = the ``n_centroids`` md5-ranked
    vectors (as the IVF builder), PQ codebooks = the residuals of the
    ``k_codes`` vectors ranked by a SALTED md5, sliced per subspace —
    the whole build is deterministic and exactly reproducible in SQL
    (``ann_topk_ivfpq_md5``).  The salt matters: the unsalted rank
    would pick the coarse centroids themselves, whose residuals are
    exactly zero, and all-zero codebooks collapse ADC to a
    per-centroid constant.  ``kmeans``: MLlib coarse fit + per-
    subspace residual codebooks (rows-only checkable).  Both come
    from the shared quantizer (:func:`~.similarity._fit_centroids`,
    :func:`pq_train`).

    Sibling tables: ``centroids/`` (cid, cv) and ``codebooks/``
    (s, c, cv).
    """
    from ..session import local_df
    from .similarity import _assign, _fit_centroids

    spark = index.sparkSession
    ix = index.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector")
    )
    centroids = _fit_centroids(ix, n_centroids, quantizer, seed)
    if not centroids:
        raise ValueError(
            "build_ivfpq_index: empty index DataFrame — cannot fit "
            "coarse centroids (need at least one vector)"
        )
    assigned = _assign(ix, centroids)
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in cv]) for _, cv in centroids])
    resid = assigned.select(
        "centroid_id",
        "id",
        _residual_expr(
            F.col("vector"), F.element_at(cent_lit, F.col("centroid_id") + 1)
        ).alias("vector"),
    )
    codebooks = pq_train(
        resid, m=m, k_codes=k_codes, quantizer=quantizer, seed=seed,
        id_col="id", vec_col="vector", salt="pq:",
    )
    codes = pq_encode(resid, codebooks, id_col="id", vec_col="vector").join(
        resid.select("id", "centroid_id"), "id"
    )
    (
        codes.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )
    local_df(spark, centroids, "cid int, cv array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")
    cb_rows = [
        (s, c, codebooks[s][c]) for s in range(len(codebooks)) for c in range(len(codebooks[0]))
    ]
    local_df(spark, cb_rows, "s int, c int, cv array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/codebooks")


def ann_topk_ivfpq(
    queries: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "matmul",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Query half of :func:`build_ivfpq_index` — IVFADC search.

    Probe: cosine top-``n_probe`` centroids per query (the engine's
    IVF probe kernel, literal or broadcast-matmul), materialized once
    to parquet scratch; the distinct probed ids become a static
    partition filter so unprobed list directories are never opened.
    Score: per probed (query, centroid), the RESIDUAL ``q − c`` meets
    the list's codes — ``matmul``: cogrouped ``applyInPandas`` per
    centroid, one ``(m,k,|Q_c|)`` distance-table gather per list,
    local top-k, single scalar-row merge window; ``expr``: the same
    arithmetic as Catalyst expressions (oracle-shaped, bit-matching
    the DuckDB oracle's sequential list ops).

    Output: ``(query_id, neighbor_id, dist, rank)``, dist = ADC
    squared L2 in residual space, rank by ``dist ASC, neighbor_id
    ASC``.
    """
    import numpy as np

    spark = queries.sparkSession
    from .similarity import _probe_centroids

    centroids = sorted(
        (int(r["cid"]), list(r["cv"]))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["s"] for r in cb_rows)
    kc = 1 + max(r["c"] for r in cb_rows)
    codebooks = [[None] * kc for _ in range(m)]
    for r in cb_rows:
        codebooks[r["s"]][r["c"]] = [float(x) for x in r["cv"]]
    ds = len(codebooks[0][0])

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    if scratch_dir is None:
        from ..data.scratch import session_scratch_dir

        scratch_dir = session_scratch_dir("ivfpq_probe_")
    _probe_centroids(q, centroids, n_probe).write.mode("overwrite").parquet(scratch_dir)
    probed = spark.read.parquet(scratch_dir)
    probe_ids = sorted(r[0] for r in probed.select("centroid_id").distinct().collect())
    lists_raw = spark.read.parquet(f"{path}/lists")
    lists = lists_raw.where(F.col("centroid_id").isin(probe_ids))
    n_type = lists_raw.schema["id"].dataType.simpleString()
    q_type = q.schema["query_id"].dataType.simpleString()
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    kk = int(k)

    if impl == "expr":
        cent_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in cv]) for _, cv in centroids]
        )
        rq = _residual_expr(F.col("qv"), F.element_at(cent_lit, F.col("centroid_id") + 1))
        cand = probed.withColumn("rq", rq).join(
            lists.select("centroid_id", F.col("id").alias("neighbor_id"), "codes"),
            "centroid_id",
        )
        terms = []
        for s in range(m):
            sub = F.slice("rq", s * ds + 1, ds)
            cb_lit = F.array(
                *[F.array(*[F.lit(float(x)) for x in c]) for c in codebooks[s]]
            )
            chosen = F.element_at(cb_lit, F.element_at("codes", s + 1) + 1)
            terms.append(
                F.aggregate(
                    F.zip_with(sub, chosen, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
        dist = terms[0]
        for t in terms[1:]:
            dist = dist + t
        cand = cand.select("query_id", "neighbor_id", dist.alias("dist"))
        return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    if impl != "matmul":
        raise ValueError(f"impl must be matmul|expr, got {impl!r}")

    cb = np.asarray(codebooks, dtype=np.float64)
    cents = {cid: np.asarray(cv, dtype=np.float64) for cid, cv in centroids}

    def search_list(qpdf, lpdf):
        import pandas as pd

        if len(qpdf) == 0 or len(lpdf) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "dist": []})
        cid = int(qpdf["centroid_id"].iloc[0])
        qmat = np.stack(qpdf["qv"].to_numpy()).astype(np.float64) - cents[cid][None, :]
        # T[s][c][qi] over residuals
        T = np.stack(
            [
                (
                    (qmat[:, s * ds : (s + 1) * ds][:, None, :] - cb[s][None, :, :]) ** 2
                ).sum(axis=2).T
                for s in range(cb.shape[0])
            ]
        )
        c = np.stack(lpdf["codes"].to_numpy()).astype(np.int64)
        gathered = T[np.arange(cb.shape[0])[:, None], c.T, :]  # (m, B, |Q_c|)
        d = gathered.sum(axis=0)  # (B, |Q_c|)
        nids = lpdf["id"].to_numpy()
        qids = qpdf["query_id"].to_numpy()
        nb = min(kk, d.shape[0])
        part = np.argpartition(d, nb - 1, axis=0)[:nb]
        frames = []
        for qi in range(d.shape[1]):
            rows_i = part[:, qi]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": [qids[qi]] * len(rows_i),
                        "neighbor_id": nids[rows_i],
                        "dist": d[rows_i, qi],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    cand = (
        probed.groupBy("centroid_id")
        .cogroup(lists.groupBy("centroid_id"))
        # narrow-ok: cogroup keys ARE the partitioning — per-centroid
        # ADC search; a round-robin rebalance would break the grouping
        .applyInPandas(
            search_list, schema=f"query_id {q_type}, neighbor_id {n_type}, dist double"
        )
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
