"""Similarity search over an embedding column — brute-force baseline,
LSH-bucketed and IVF scale paths (SURVEY §7 milestone 5).

All three return ``(query_id, neighbor_id, sim|dist, rank)``:

- ``brute_force_topk``: exact; broadcast index + window top-k.  The
  baseline and the correctness oracle for the approximate paths.
- ``ann_topk_lsh``: MLlib BucketedRandomProjectionLSH on unit vectors.
- ``ann_topk_ivf``: IVF — a coarse quantizer (:func:`_fit_centroids`:
  MLlib KMeans or an md5-ranked sample); queries probe the
  ``n_probe`` nearest centroids and search only those inverted lists.
  This is the 100 TB design: the index is partitioned by centroid id,
  a query touches n_probe/k_centroids of the data, and the probe join
  is a plain equi-join on the centroid id.
- ``build_ivf_index`` / ``ann_topk_ivf_indexed``: the persisted form —
  build once (inverted lists as parquet partitioned by centroid id),
  query many (probe set becomes a static partition prune at the scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import ckpt
from ..functions.vectors import cosine, dot, l2_norm, topk_cosine_join

__all__ = [
    "brute_force_topk",
    "ann_topk_lsh",
    "ann_topk_signlsh",
    "ann_topk_ivf",
    "build_ivf_index",
    "ivf_index_append",
    "ann_topk_ivf_indexed",
    "csls_topk",
    "nicdm_topk",
    "mutual_rank_topk",
    "jl_project",
    "margin_bitext_mine",
    "kcenter_sample",
]


def brute_force_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "matmul",
) -> DataFrame:
    q = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
    ix = index.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
    return topk_cosine_join(q, ix, k=k, impl=impl)


def ann_topk_signlsh(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sign_bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Approximate kNN via *axis-aligned* random-hyperplane LSH —
    the deterministic sibling of :func:`ann_topk_lsh` (no sampled
    hyperplanes, so any engine reproduces the identical candidate set;
    exact-oracle-checked in ``queries.ann_topk_signlsh``).

    Candidates = query/index rows agreeing on any band of leading-dim
    sign bits (equi-join on short string keys, one shuffle); exact
    cosine ranks candidates, top-k per query.  Recall follows the
    SimHash S-curve in sign_bits/bands; neighbors whose every sign band
    differs are missed — that is the LSH trade, not a bug.
    """
    rows = sign_bits // bands

    def banded(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        bits = F.concat(
            *[
                F.when(F.element_at(F.col(out_vec), j + 1) >= 0, F.lit("1")).otherwise(
                    F.lit("0")
                )
                for j in range(sign_bits)
            ]
        )
        band_keys = F.array(
            *[
                F.concat_ws("_", F.lit(c), F.substring(bits, c * rows + 1, rows))
                for c in range(bands)
            ]
        )
        return df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec)
        ).select(out_id, out_vec, F.explode(band_keys).alias("band_key"))

    q = banded(queries, "query_id", "qv")
    ix = banded(index, "neighbor_id", "iv")
    sim = dot(F.col("qv"), F.col("iv")) / (l2_norm(F.col("qv")) * l2_norm(F.col("iv")))
    cand = (
        q.join(ix, "band_key")
        # sim computed before the dedup so the distinct shuffles only
        # scalar rows (a multi-band pair recomputes one dim-d dot)
        .withColumn("sim", sim)
        .select("query_id", "neighbor_id", "sim")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        # nanvl: zero-norm vectors yield NaN sims, which Spark would
        # rank FIRST in DESC (NaN > +Inf); numpy/matmul ranks them last
        F.nanvl(F.col("sim"), F.lit(float("-inf"))).desc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _symmetric_fit(queries, index, n_candidates, id_col, vec_col, impl):
    """The fwd/rev exact-search pair every hubness-reduction variant
    starts from (kiez's symmetric fit): queries→index and
    index→queries top-n candidate lists."""
    fwd = brute_force_topk(
        queries, index, k=n_candidates, id_col=id_col, vec_col=vec_col, impl=impl
    )
    rev = brute_force_topk(
        index, queries, k=n_candidates, id_col=id_col, vec_col=vec_col, impl=impl
    )
    return fwd, rev


def csls_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    n_candidates: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "matmul",
) -> DataFrame:
    """Hubness-reduced kNN via CSLS (M18 — the reference's kiez
    ``hubness="csls"`` option, ``blockers/embedding/blockbuilder.py:
    107-207``; Conneau et al. 2018).

    Hub vectors appear in everyone's neighbor list; CSLS penalizes them
    by each endpoint's local density:
    ``csls(q, x) = 2·cos(q, x) − r_fwd(q) − r_rev(x)`` where
    ``r_fwd(q)`` = mean cosine of q to its ``n_candidates`` nearest
    index vectors and ``r_rev(x)`` = mean cosine of x to its
    ``n_candidates`` nearest QUERY vectors.  Final result = per-query
    top-``k`` of the forward candidate set by csls DESC, id ASC.

    Composition of the exact kernels — two brute-force searches (the
    symmetric fit kiez performs), two scalar aggregates, two scalar
    equi-joins, one merge window; every stage deterministic, so the op
    carries an exact SQL oracle (``csls_topk`` query).
    """
    fwd, rev = _symmetric_fit(queries, index, n_candidates, id_col, vec_col, impl)
    r_fwd = fwd.groupBy("query_id").agg(F.avg("sim").alias("r_fwd"))
    r_rev = (
        rev.groupBy("query_id")
        .agg(F.avg("sim").alias("r_rev"))
        .withColumnRenamed("query_id", "neighbor_id")
    )
    scored = (
        fwd.join(r_fwd, "query_id")
        .join(r_rev, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (2.0 * F.col("sim") - F.col("r_fwd") - F.col("r_rev")).alias("csls"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.nanvl(F.col("csls"), F.lit(float("-inf"))).desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def nicdm_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    n_candidates: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "matmul",
) -> DataFrame:
    """Hubness-reduced kNN via NICDM local scaling (M18 — kiez's
    ``hubness="nicdm"``; Schnitzer et al. 2012, "Local and Global
    Scaling Reduce Hubs in Space").

    Each candidate distance is normalized by the geometric mean of both
    endpoints' local neighborhood scales:
    ``nicdm(q, x) = d(q, x) / sqrt(mu(q) * mu(x))`` with
    ``d = 1 − cos`` and ``mu`` = mean distance to the ``n_candidates``
    nearest points (forward for queries, reverse for index vectors —
    the same symmetric fit as :func:`csls_topk`).  Final result =
    per-query top-``k`` by scaled distance ASC, id ASC.

    Same composition as CSLS — two exact searches, two scalar
    aggregates, two scalar joins, one merge window — so it carries an
    exact SQL oracle (``nicdm_topk`` query).
    """
    fwd, rev = _symmetric_fit(queries, index, n_candidates, id_col, vec_col, impl)
    # distances clamped at 0 INSIDE the averages too: cos(v, v) can
    # exceed 1 by an ulp, which would drive mu negative (sqrt of a
    # negative aborts some engines) or to exact 0 for duplicate-heavy
    # neighborhoods; a -1e-16 distance would also round to -0.0 ≠ 0.0
    # in value hashes
    d = F.greatest(1.0 - F.col("sim"), F.lit(0.0))
    mu_fwd = fwd.groupBy("query_id").agg(F.avg(d).alias("mu_fwd"))
    mu_rev = (
        rev.groupBy("query_id")
        .agg(F.avg(d).alias("mu_rev"))
        .withColumnRenamed("query_id", "neighbor_id")
    )
    denom = F.sqrt(F.col("mu_fwd") * F.col("mu_rev"))
    scored = (
        fwd.join(mu_fwd, "query_id")
        .join(mu_rev, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            # zero local scale (all-duplicate neighborhood) falls back
            # to the raw distance instead of dividing by zero
            F.when(denom == 0, d).otherwise(d / denom).alias("nicdm_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.nanvl(F.col("nicdm_dist"), F.lit(float("inf"))).asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def mutual_rank_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    n_candidates: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "matmul",
) -> DataFrame:
    """Hubness-reduced kNN via mutual rank (M18 — the rank-based
    reduction family in kiez, e.g. mutual proximity).

    ``score(q, x) = rank of x in q's forward top-n_candidates list +
    rank of q in x's reverse list`` (missing reverse rank ⇒
    ``n_candidates + 1``): a hub x is close to everyone, so a given q
    sits deep in x's reverse list and the pair is demoted.  Lower score
    = better; ties break neighbor-id ASC.  Integer arithmetic over two
    deterministic top-k lists — exact SQL oracle
    (``mutual_rank_topk`` query).
    """
    fwd = brute_force_topk(
        queries, index, k=n_candidates, id_col=id_col, vec_col=vec_col, impl=impl
    )
    rev = brute_force_topk(
        index, queries, k=n_candidates, id_col=id_col, vec_col=vec_col, impl=impl
    ).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
        F.col("rank").alias("rank_rev"),
    )
    scored = fwd.join(rev, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "neighbor_id",
        "sim",
        (
            F.col("rank")
            + F.coalesce(F.col("rank_rev"), F.lit(n_candidates + 1))
        ).alias("mutual_rank"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("mutual_rank").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ann_topk_lsh(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_hash_tables: int = 4,
    bucket_length: float = 0.5,
    distance_threshold: float = 1.2,
    seed: int = 42,
) -> DataFrame:
    """Approximate kNN via random-projection LSH on L2-normalized
    vectors (unit-sphere euclidean ≡ cosine ordering)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame) -> DataFrame:
        v = df.select(
            F.col(id_col).alias("id"),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("raw"),
        )
        return Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(v)

    q, ix = prep(queries), prep(index)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(ix)
    joined = lsh.approxSimilarityJoin(q, ix, distance_threshold, distCol="dist")
    out = joined.select(
        F.col("datasetA.id").alias("query_id"),
        F.col("datasetB.id").alias("neighbor_id"),
        F.col("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return out.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def build_ivf_index(
    index: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    quantizer: str = "kmeans",
) -> None:
    """Persist an IVF index: inverted lists as parquet PARTITIONED BY
    centroid id, centroids as a tiny sibling table.

    ``quantizer`` is :func:`_fit_centroids`'s: ``"kmeans"`` (default)
    or ``"hash_sample"``, whose persisted index reproduces in any
    engine, giving the indexed query path an exact oracle
    (``ann_topk_ivf_indexed_md5``).

    This is the build half of the at-scale ANN design: build once,
    query many.  Because the lists live in ``centroid_id=N/``
    directories, a probe of ``n_probe`` lists is a *static partition
    prune* at the parquet scan — a query over a 100 TB index reads
    ``n_probe / n_centroids`` of the files, no shuffle, no index scan.

    Every vector is assigned by the query path's probe
    (:func:`_probe_centroids` with ``n_probe=1``), so it sits in the
    list a query for it probes first.  The write repartitions by
    centroid id first so every list directory gets one file per
    shuffle partition that holds its key, not one per upstream
    partition (measured 2x on the write).
    """
    ix = index.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector"))
    cents = _fit_centroids(ix, n_centroids, quantizer, seed)
    assigned = _assign(ix, cents)
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )
    from ..session import local_df

    spark = index.sparkSession
    local_df(spark, cents, "cid int, cv array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")


def ivf_index_append(
    new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally ADD vectors to a persisted IVF index — the Faiss
    ``add()`` regime: assign each new vector to its nearest EXISTING
    centroid and append to that inverted list's partition; the coarse
    quantizer is not retrained.  This is how a 100 TB index absorbs a
    daily ingest batch — a full rebuild re-shuffles the entire corpus,
    an append only moves the batch.

    Caveats (standard IVF practice, documented not hidden): centroids
    drift as the distribution shifts — retrain on a cadence (rebuild)
    when recall degrades; and every append writes one file per touched
    partition per batch — run
    :func:`~klinker_spark.ops.layout.compact_small_files` over
    ``{path}/lists`` on the same cadence.

    The assignment is the build's (:func:`_assign`, the query path's
    probe with ``n_probe=1``).
    """
    spark = new.sparkSession
    cents = sorted(
        (int(r["cid"]), [float(x) for x in r["cv"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    ix = new.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector"))
    assigned = _assign(ix, cents)
    (
        assigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )


#: Above this centroid count the fold-exact probe kernel gives way to
#: the broadcast-matmul kernel: sequential folds and a full per-row
#: sort over every centroid stop scaling long before the 10⁵-10⁶
#: centroids a 100 TB IVF needs (NOTES lesson 7).
PROBE_LITERAL_MAX_CENTROIDS = 512


def _fit_centroids(
    ix: DataFrame, n: int, quantizer: str, seed: int, salt: str = ""
) -> list[tuple[int, list[float]]]:
    """The one coarse quantizer of the IVF, IVF-PQ, PQ and SemDeDup
    builds: up to ``n`` centroids ``[(cid, vector)]`` over ``ix`` with
    columns ``(id, vector array<double>)``; ``[]`` for an empty input.

    - ``"hash_sample"``: the first ``n`` rows ranked by
      ``(md5(salt || id), id)``, one bounded collect — deterministic
      in any engine, so the pipelines built on it carry exact SQL
      oracles.
    - ``"kmeans"``: MLlib KMeans with ``seed`` over the whole input.
      ``maxIter=10`` is Faiss's IVF training default: a coarse
      quantizer needs balanced cells, not converged centroids.  The
      input is left uncached: MLlib persists its own instances for the
      fit's iterations when the input is not cached, and a cached
      input costs one more job per fit.  Repeatable in Spark,
      rows-only checkable.

    Vectors are assigned to the result with :func:`_assign`.
    """
    if quantizer == "hash_sample":
        key = F.concat(F.lit(salt), F.col("id").cast("string"))
        rows = ix.orderBy(F.md5(key), "id").limit(n).select("vector").collect()
        return [(i, [float(x) for x in r["vector"]]) for i, r in enumerate(rows)]
    if quantizer != "kmeans":
        raise ValueError(f"quantizer must be kmeans|hash_sample, got {quantizer!r}")
    from py4j.protocol import Py4JJavaError
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = ix.select(array_to_vector("vector").alias("features"))
    try:
        model = KMeans(k=n, seed=seed, maxIter=10).fit(feat)
    except Py4JJavaError:
        # MLlib cannot fit an empty input; checked only on failure, so
        # a fit costs no extra job
        if feat.isEmpty():
            return []
        raise
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


def _assign(ix: DataFrame, centroids: list) -> DataFrame:
    """``(id, vector)`` → ``(centroid_id, id, vector)``: each vector in
    the list of its nearest centroid by the query path's probe
    (:func:`_probe_centroids` with ``n_probe=1``), so a vector sits in
    the list a query for it probes first."""
    return _probe_centroids(
        ix.select(F.col("id").alias("query_id"), F.col("vector").alias("qv")), centroids, 1
    ).select("centroid_id", F.col("query_id").alias("id"), F.col("qv").alias("vector"))


def _probe_centroids(q: DataFrame, centroids: list, n_probe: int) -> DataFrame:
    """Per-query probe set: top-``n_probe`` centroids by cosine,
    ties broken centroid-id ASC.  ``q`` must have columns
    ``(query_id, qv array<double>)``; output adds one exploded
    ``centroid_id`` row per probe.  Queries stay distributed either
    way — only the centroid table (bounded by n_centroids) is local.

    Two physical strategies, identical ordering semantics:

    - ≤ ``PROBE_LITERAL_MAX_CENTROIDS``: the FOLD-EXACT Arrow kernel
      (:func:`_probe_centroids_exact`) — bit-identical to the SQL
      oracle's sequential-fold cosine, ~30× the interpreted
      higher-order-function projection it replaced (measured 10 s →
      0.3 s per 20k-row assignment at dim 64).
    - above: the centroid matrix ships as one ``sc.broadcast`` numpy
      array; queries stream through ``mapInPandas`` doing a BLAS
      matmul + tie-safe ``_local_topk`` per row (pairwise summation —
      fast but not fold-exact; no oracle rides this size).
    """
    # Both kernels are CPU-bound mapInPandas passes that inherit the
    # INPUT's partitioning — a small table written as 2 part files
    # would run the whole probe in 2 tasks on a 32-core box (measured:
    # sf1's 2-part embeddings probed SLOWER in wall time than sf3's
    # 8-part table — a negative scaling exponent that was pure
    # parallelism).
    from ..session import widen_for_kernel

    q = widen_for_kernel(q)
    if len(centroids) > PROBE_LITERAL_MAX_CENTROIDS:
        return _probe_centroids_matmul(q, centroids, n_probe)
    return _probe_centroids_exact(q, centroids, n_probe)


def _probe_centroids_exact(q: DataFrame, centroids: list, n_probe: int) -> DataFrame:
    """Arrow kernel computing EXACTLY the expression-path cosine:
    ``dot = fold(0.0, a[i]*b[i])`` and ``norm = sqrt(fold(0.0, x²))``
    as LEFT-TO-RIGHT sequential double additions (``np.cumsum`` along
    the vector axis with the fold's 0.0 initial term prepended — the
    same rounding sequence, so results are bit-identical to the
    ``aggregate``/``zip_with`` fold AND to DuckDB's ``list_sum``),
    ``sim = NaN`` when either norm is 0 (the :func:`cosine` contract),
    selection by ``(sim DESC, cid ASC)`` with NaN ordered LAST (Spark's
    NaN-greatest double ordering on the negated sim).  Parity with the
    retained expression builder is pinned bit-for-bit in
    tests/test_ops.py::test_probe_centroids_exact_parity.
    """
    import numpy as np

    spark = q.sparkSession
    cids_l = [int(c[0]) for c in centroids]
    cmat_l = [list(map(float, c[1])) for c in centroids]
    bc = spark.sparkContext.broadcast((cids_l, cmat_l))
    q_type = q.schema["query_id"].dataType.simpleString()
    m = min(int(n_probe), len(centroids))

    def _fold_last(x, axis):
        # fold(0.0, +) == cumsum with a leading 0.0 plane (0.0 + p0 may
        # differ from p0 only in the sign of zero — keep it exact)
        shape = list(x.shape)
        shape[axis] = 1
        z = np.zeros(shape, dtype=np.float64)
        return np.cumsum(np.concatenate([z, x], axis=axis), axis=axis).take(
            [-1], axis=axis
        )

    def probe(batches):
        import pandas as pd

        cids, cmat = bc.value
        cid_arr = np.array(cids, dtype=np.int64)
        c = np.array(cmat, dtype=np.float64)  # (k, d)
        cnorm = np.sqrt(_fold_last(c * c, axis=1))[:, 0]  # (k,)
        k = c.shape[0]
        d1 = c.shape[1] + 1
        # (chunk, k, d+1) float64 product+cumsum tensors under ~256 MB
        row_chunk = max(1, (128 << 20) // max(1, k * d1 * 8))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["query_id"].to_numpy()
            qv = pdf["qv"]
            qm = np.stack(qv.to_numpy()).astype(np.float64)  # (n, d)
            qnorm = np.sqrt(_fold_last(qm * qm, axis=1))[:, 0]  # (n,)
            out_q, out_v, out_c = [], [], []
            for lo in range(0, len(pdf), row_chunk):
                hi = min(lo + row_chunk, len(pdf))
                prods = qm[lo:hi, None, :] * c[None, :, :]  # (chunk, k, d)
                dots = _fold_last(prods, axis=2)[:, :, 0]  # (chunk, k)
                den = qnorm[lo:hi, None] * cnorm[None, :]
                with np.errstate(invalid="ignore", divide="ignore"):
                    sims = np.where(den == 0, np.nan, dots / den)
                negs = -sims
                negs = np.where(np.isnan(negs), np.inf, negs)  # NaN orders last
                for r in range(lo, hi):
                    order = np.lexsort((cid_arr, negs[r - lo]))[:m]
                    out_q.extend([qids[r]] * m)
                    out_v.extend([qv.iloc[r]] * m)
                    out_c.extend(cid_arr[order].tolist())
            yield pd.DataFrame({"query_id": out_q, "qv": out_v, "centroid_id": out_c})

    # narrow-ok: q is widened by the only caller, _probe_centroids
    return q.mapInPandas(
        probe, schema=f"query_id {q_type}, qv array<double>, centroid_id int"
    )


def _probe_centroids_expr(q: DataFrame, centroids: list, n_probe: int) -> DataFrame:
    """The original pure-Catalyst probe projection (higher-order
    ``transform``/``array_sort`` over a literal centroid array) — the
    semantic reference :func:`_probe_centroids_exact` is parity-tested
    against; interpreted HOF evaluation makes it ~30× slower, so no
    production path calls it."""
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
            )
            for cid, cv in centroids
        ]
    )
    scored = q.withColumn(
        "probes",
        F.slice(
            F.transform(
                F.array_sort(
                    F.transform(
                        cent_arr,
                        lambda s: F.struct(
                            (-cosine(F.col("qv"), s["cv"])).alias("negsim"),
                            s["cid"].alias("cid"),
                        ),
                    )
                ),
                lambda s: s["cid"],
            ),
            1,
            n_probe,
        ),
    )
    return scored.select("query_id", "qv", F.explode("probes").alias("centroid_id"))


def _probe_centroids_matmul(q: DataFrame, centroids: list, n_probe: int) -> DataFrame:
    """Broadcast-matmul probe scoring — same (sim DESC, cid ASC)
    selection as the literal path, for centroid counts where a literal
    expression tree would dominate plan compilation or fail."""
    import numpy as np

    from ..functions.vectors import _local_topk

    spark = q.sparkSession
    cids = np.array([int(c[0]) for c in centroids])
    cmat = np.array([c[1] for c in centroids], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        cunit = cmat / np.linalg.norm(cmat, axis=1)[:, None]
    bc = spark.sparkContext.broadcast((cids, cunit))
    q_type = q.schema["query_id"].dataType.simpleString()
    m = min(int(n_probe), len(centroids))

    def probe(batches):
        import pandas as pd

        from ..functions.vectors import _sims_tile

        b_cids, b_cunit = bc.value
        b_cunit_t = b_cunit.T
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["query_id"].to_numpy()
            qv = pdf["qv"]
            qmat = np.stack(qv.to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                qunit = qmat / np.linalg.norm(qmat, axis=1)[:, None]
            # worker-global reused tile: per-batch sims allocations
            # ride the flappy page-fault path (vectors._sims_tile doc)
            sims = np.matmul(
                qunit, b_cunit_t, out=_sims_tile(qunit.shape[0], b_cunit.shape[0])
            )
            out_q, out_v, out_c = [], [], []
            for r in range(sims.shape[0]):
                o = _local_topk(sims[r], b_cids, m)
                out_q.extend([qids[r]] * len(o))
                out_v.extend([qv.iloc[r]] * len(o))
                out_c.extend(b_cids[o].tolist())
            yield pd.DataFrame({"query_id": out_q, "qv": out_v, "centroid_id": out_c})

    # narrow-ok: q is widened by the only caller, _probe_centroids
    return q.mapInPandas(
        probe, schema=f"query_id {q_type}, qv array<double>, centroid_id int"
    )


def ann_topk_ivf_indexed(
    queries: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Query half of :func:`build_ivf_index`.

    Fully distributed probe plan:

    1. The ONLY driver materialization is the centroid table —
       bounded by ``n_centroids`` by construction, never by |Q|.
       It is broadcast to the probe's Arrow kernel
       (:func:`_probe_centroids`, as in :func:`ann_topk_ivf`), which
       scores the queries where they are.
    2. The distinct probed centroid ids (again ≤ ``n_centroids``
       values, from an aggregate) become a static ``isin`` filter on
       the partition column, so the ``lists/`` scan plans with
       ``PartitionFilters`` and never opens unprobed directories
       (asserted in tests/test_plans.py).
    3. Each probed list is searched by a cogrouped ``applyInPandas``
       on ``centroid_id``: the centroid's queries meet its inverted
       list in one BLAS matmul + tie-safe local top-k, so only
       ``|Q_c|·k`` candidate rows per centroid reach the final merge
       window — the 90M interpreted expression dots the naive probe
       join evaluates never materialize (NOTES.md lesson 7).

    The probe projection is consumed twice (the distinct-probes
    aggregate and the search), so it is materialized ONCE to a parquet
    scratch (``scratch_dir``, default a fresh tempdir — shared FS on a
    cluster) instead of ``persist()``: |Q|·n_probe rows on disk, no
    executor cache held for the session lifetime.
    """
    import numpy as np

    from ..functions.vectors import _local_topk

    spark = queries.sparkSession
    centroids = sorted(
        (int(r["cid"]), list(r["cv"])) for r in spark.read.parquet(f"{path}/centroids").collect()
    )

    q_type = queries.schema[id_col].dataType.simpleString()
    lists_raw = spark.read.parquet(f"{path}/lists")
    n_type = lists_raw.schema["id"].dataType.simpleString()
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    if scratch_dir is None:
        from ..data.scratch import session_scratch_dir

        scratch_dir = session_scratch_dir("ivf_probe_")
    _probe_centroids(q, centroids, n_probe).write.mode("overwrite").parquet(scratch_dir)
    probed = spark.read.parquet(scratch_dir)
    # bounded collect: ≤ n_centroids ids out of an aggregate over scratch
    probe_ids = sorted(r[0] for r in probed.select("centroid_id").distinct().collect())
    kk = int(k)

    def search_list(qpdf, lpdf):
        import pandas as pd

        if len(qpdf) == 0 or len(lpdf) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        g_qids = qpdf["query_id"].to_numpy()
        qmat = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
        nids = lpdf["id"].to_numpy()
        mat = np.stack(lpdf["vector"].to_numpy()).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            g_qunit = qmat / np.linalg.norm(qmat, axis=1)[:, None]
            unit = mat / np.linalg.norm(mat, axis=1)[:, None]
        sims = g_qunit @ unit.T  # (|Q_c|, |list|)
        m = min(kk, sims.shape[1])
        out_q, out_n, out_s = [], [], []
        for r in range(sims.shape[0]):
            o = _local_topk(sims[r], nids, m)
            out_q.append(np.repeat(g_qids[r], len(o)))
            out_n.append(nids[o])
            out_s.append(sims[r][o])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "sim": np.concatenate(out_s),
            }
        )

    # tiny static probe set => parquet partition pruning at the scan
    lists = lists_raw.where(F.col("centroid_id").isin(probe_ids))
    cand = (
        probed.groupBy("centroid_id")
        .cogroup(lists.groupBy("centroid_id"))
        # narrow-ok: cogroup keys ARE the partitioning — per-centroid
        # search; a round-robin rebalance would break the grouping
        .applyInPandas(search_list, schema=f"query_id {q_type}, neighbor_id {n_type}, sim double")
    )
    w = Window.partitionBy("query_id").orderBy(
        # nanvl: zero-norm vectors yield NaN sims, which Spark would
        # rank FIRST in DESC (NaN > +Inf); numpy/matmul ranks them last
        F.nanvl(F.col("sim"), F.lit(float("-inf"))).desc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ann_topk_ivf(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    quantizer: str = "kmeans",
) -> DataFrame:
    """IVF approximate kNN.

    Build: a coarse quantizer over the index (:func:`_fit_centroids`);
    each index vector joins its centroid's inverted list (a partition
    key, :func:`_assign`).  Query: score the centroid table (tiny,
    broadcast) per query, probe the top ``n_probe`` lists, exact top-k
    within them.

    ``quantizer``:

    - ``"kmeans"`` (default): MLlib KMeans centroids — the quality
      choice, seeded but not reproducible outside Spark.
    - ``"hash_sample"``: centroids are the ``n_centroids`` index
      vectors ranked first by ``md5(id)`` — a deterministic quantizer
      any engine reproduces, so the whole IVF pipeline (assignment →
      probe → list search) carries an exact SQL oracle
      (``ann_topk_ivf_md5``).  Same plan shape and cost as kmeans mode;
      only centroid quality differs (random-sample centroids ≈ the
      k-means|| init KMeans itself starts from).
    """
    ix = index.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector"))
    q = queries.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector"))
    centroids = _fit_centroids(ix, n_centroids, quantizer, seed)
    if not centroids:  # empty index: no lists, no neighbors
        return q.select(
            F.col("id").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            F.lit(0.0).alias("sim"),
            F.lit(1).alias("rank"),
        ).where(F.lit(False))
    inv_lists = _assign(ix, centroids)
    probed = _probe_centroids(
        q.select(F.col("id").alias("query_id"), F.col("vector").alias("qv")),
        centroids,
        n_probe,
    ).withColumn("_qn", l2_norm(F.col("qv")))
    cand = probed.join(inv_lists, "centroid_id").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        (dot(F.col("qv"), F.col("vector")) / (F.col("_qn") * l2_norm(F.col("vector")))).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        # nanvl: zero-norm vectors yield NaN sims, which Spark would
        # rank FIRST in DESC (NaN > +Inf); numpy/matmul ranks them last
        F.nanvl(F.col("sim"), F.lit(float("-inf"))).desc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def jl_project(
    vecs: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection (Achlioptas 2003):
    ``y_j = Σ_i sign(i, j) · x_i`` with a deterministic ±1 matrix
    derived from md5 parity — the oblivious dimensionality-reduction
    sketch that preserves pairwise distances within (1 ± ε) at
    ``out_dim = O(log n / ε²)``, with NO training pass (unlike PCA/PQ:
    nothing to fit, so streams and shards project independently).

    Integer lane: components are micro-snapped before the signed sum,
    so every output coordinate is an exact bigint on any engine.
    Output is long form ``(id, out_dim, comp_micro)`` — callers
    re-assemble arrays or feed the sketch straight into grouping.

    Plan: posexplode → broadcast join against the (in_dim × out_dim)
    sign matrix → (id, j) aggregate — whole-stage codegen end to end,
    one shuffle (the aggregate).  The sign matrix is rows = d·k and
    always broadcastable (even d = 4096, k = 64 is 262k slim rows).
    """
    spark = vecs.sparkSession
    import hashlib

    signs = [
        (
            i,
            j,
            1
            if int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1,
        )
        for i in range(in_dim)
        for j in range(out_dim)
    ]
    sdf = spark.createDataFrame(signs, "i INT, j INT, sg INT")
    ex = vecs.select(
        F.col(id_col).alias("id"), F.posexplode(vec_col).alias("i", "_v")
    ).select(
        "id",
        F.col("i").cast("int").alias("i"),
        F.round(F.col("_v").cast("double") * 1_000_000).cast("bigint").alias("_m"),
    )
    return (
        ex.join(F.broadcast(sdf), "i")
        .groupBy("id", "j")
        .agg(F.sum(F.col("_m") * F.col("sg")).alias("comp_micro"))
        .select("id", F.col("j").alias("out_dim"), "comp_micro")
    )


def margin_bitext_mine(
    left: DataFrame,
    right: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "matmul",
) -> DataFrame:
    """Margin-based parallel-text / hard-negative mining (Artetxe &
    Schwenk 2019, the LASER bitext miner): for every left vector, the
    best right candidate scored by the DISTANCE margin — cosine minus
    the mean of both directions' k-NN cosines — which suppresses hubs
    that score high against EVERYTHING.

    Integer lane: per-pair cosines micro-round FIRST (both engines see
    the identical double, the knn_topk lane), then everything else is
    integer — the margin is kept ×2k-scaled to avoid division:
    ``margin_scaled = 2k·cos_micro − Σ_kNN(x) cos_micro − Σ_kNN(y)
    cos_micro`` (same ordering as the true distance margin, exact).

    Scale shape: two brute-force top-k passes (broadcast/sharded per
    ``impl`` — swap in the IVF probe for 100 TB candidate generation),
    two k-row-per-id aggregates, one join on the candidate pair.
    Cos(x,y) = cos(y,x), so the backward pass re-ranks the same pair
    set, never new pairs.

    Output: ``(query_id, neighbor_id, cos_micro, margin_scaled)`` —
    the top-1 margin candidate per left id, ties by neighbor_id.
    """
    from pyspark.sql import Window

    micro = lambda c: F.round(c * 1e6).cast("bigint")  # noqa: E731
    fwd = brute_force_topk(left, right, k=k, id_col=id_col, vec_col=vec_col, impl=impl)
    bwd = brute_force_topk(right, left, k=k, id_col=id_col, vec_col=vec_col, impl=impl)
    fm = fwd.select("query_id", "neighbor_id", micro(F.col("sim")).alias("cos_micro"))
    sx = fm.groupBy("query_id").agg(F.sum("cos_micro").alias("_sx"))
    sy = (
        bwd.select(F.col("query_id").alias("_rid"), micro(F.col("sim")).alias("_cm"))
        .groupBy("_rid")
        .agg(F.sum("_cm").alias("_sy"))
    )
    cand = (
        fm.join(sx, "query_id")
        .join(sy, fm["neighbor_id"] == sy["_rid"])
        .select(
            "query_id",
            "neighbor_id",
            "cos_micro",
            (2 * k * F.col("cos_micro") - F.col("_sx") - F.col("_sy")).alias(
                "margin_scaled"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("margin_scaled").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )

@ckpt.scope()
def kcenter_sample(
    emb: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Farthest-point sampling (Gonzalez 1985 k-center): a diversity
    coreset for training-data selection — greedily pick the point
    farthest (squared L2) from everything selected so far.  The
    classic 2-approximation to the k-center objective, and the
    standard "cover the embedding space with k exemplars" primitive
    (coreset selection, prototype picking, eval-set seeding).

    Deterministic: seed = min id; each round picks the max min-distance
    point, ties by id ascending; distances are micro-rounded bigints
    (the identical fold in any engine), so the whole trajectory is
    exact-oracled.

    Scale shape: k-1 passes, each ONE codegen scan computing the
    squared distance to the single newly-added center (a literal
    array) + a running least(); the argmax is a TakeOrdered (never a
    global sort), and only the k selected rows ever reach the driver.
    Per-round localCheckpoint keeps lineage flat (the pagerank
    contract).  Intrinsically k sequential scans — that IS
    farthest-point sampling; k is small by construction.

    Output: ``(sel_round, vec_id, mind_micro)`` — ``mind_micro`` the
    point's min squared distance (×1e6) at selection time, NULL for
    the seed.
    """
    pts = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # output id field keeps the INPUT id type (string ids are as legal
    # as the bench's bigints); empty input has no seed — fail loudly
    id_type = pts.schema["id"].dataType.simpleString()

    def d2_to(center_vals) -> F.Column:
        arr = F.array(*[F.lit(float(x)) for x in center_vals])
        return F.round(
            F.aggregate(
                F.zip_with(F.col("v"), arr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * 1e6
        ).cast("bigint")

    seeds = pts.orderBy("id").limit(1).collect()
    if not seeds:
        raise ValueError("kcenter_sample: empty input — no seed point to start FPS from")
    seed = seeds[0]
    rows = [(0, seed["id"], None)]
    state = ckpt.checkpoint(pts.withColumn("mind", d2_to(seed["v"])))
    for r in range(1, k):
        nxt = state.orderBy(F.col("mind").desc(), "id").limit(1).collect()[0]
        rows.append((r, nxt["id"], int(nxt["mind"])))
        if r < k - 1:
            prev = state
            state = ckpt.checkpoint(state.withColumn("mind", F.least("mind", d2_to(nxt["v"]))))
            ckpt.release(prev)
    spark = emb.sparkSession
    return spark.createDataFrame(
        rows, f"sel_round int, vec_id {id_type}, mind_micro bigint"
    )
