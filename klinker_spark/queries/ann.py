"""Query registrations: ann family (split from the original single-file registry; registration order preserved by package import order in __init__)."""
from __future__ import annotations
from .. import ckpt
from ._core import F, ORACLES, Window, _STOP_SQL, _cust_frame, _supp_frame, _t, ann_topk_ivf, brute_force_topk, register, tokenize
from .relational import _TOKENS_SQL

# ------------------------------------------------------------------ similarity search (embeddings)
@register(
    "knn_topk",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
    sims AS (
      SELECT q.vec_id query_id, ix.vec_id neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, ix.embedding),
                                     p -> p[1]::DOUBLE * p[2]::DOUBLE))
             / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(ix.embedding, x -> x::DOUBLE * x::DOUBLE)))) sim
      FROM q CROSS JOIN embeddings ix)
    SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) rank
      FROM sims) WHERE rank <= 10
    """,
)
def knn_topk(spark, sf_dir):
    """J8/W4 baseline: exact brute-force top-10 cosine neighbors for a
    deterministic query subset (vec_id % 10 == 0) against the full
    index; broadcast index + window top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb.where(F.col("vec_id") % 10 == 0), emb, k=10)
    return out.withColumn("sim", F.round("sim", 6))


_KNN_ORACLE = ORACLES["knn_topk"]


@register("knn_topk_sharded", _KNN_ORACLE)
def knn_topk_sharded_q(spark, sf_dir):
    """Exact kNN, big-index plan: broadcast the query matrix, stream
    index partitions with a running per-partition top-k, merge with a
    window over num_partitions·|Q|·k rows.  Identical result to
    knn_topk (shares its oracle) with no index broadcast — the shape
    that survives an index 1000× larger than executor memory."""
    emb = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(
        emb.where(F.col("vec_id") % 10 == 0), emb, k=10, impl="sharded"
    )
    return out.withColumn("sim", F.round("sim", 6))


def _md5_component_sql(d: int, col: str = "tok") -> str:
    """DuckDB expression for md5-hash-embedder component ``d`` of column
    ``col`` — mirrors ``token_vector_expr(..., hash_fn="md5")``: first 6
    hex digits of md5("d:value") as an int, mapped into [-1, 1)."""
    hx = f"md5({d}::varchar || ':' || {col})"
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr({hx}, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(({digits}) / 8388608.0 - 1.0)"


_EMB_KNN_MD5_SQL = (
    _TOKENS_SQL
    + """
    , lv AS (SELECT id, d, avg(CASE d {lcase} END) v
             FROM lt CROSS JOIN (SELECT unnest(generate_series(0, {dmax})) d)
             GROUP BY id, d),
    rv AS (SELECT id, d, avg(CASE d {lcase} END) v
           FROM rt CROSS JOIN (SELECT unnest(generate_series(0, {dmax})) d)
           GROUP BY id, d),
    ln2 AS (SELECT id, sqrt(sum(v * v)) n FROM lv GROUP BY id),
    rn2 AS (SELECT id, sqrt(sum(v * v)) n FROM rv GROUP BY id),
    dots AS (SELECT l.id qid, r.id nid, sum(l.v * r.v) dot
             FROM lv l JOIN rv r USING (d) GROUP BY 1, 2),
    sims AS (SELECT qid, nid, dot / (ln2.n * rn2.n) sim
             FROM dots JOIN ln2 ON ln2.id = qid JOIN rn2 ON rn2.id = nid)
    SELECT qid AS query_id, nid AS neighbor_id, round(sim, 6) AS sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, nid ASC) rank
      FROM sims) WHERE rank <= 3
    """
)


@register(
    "embedding_knn_blocking_md5",
    _EMB_KNN_MD5_SQL.format(
        stop=_STOP_SQL,
        dmax=7,
        lcase=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
    ),
)
def embedding_knn_blocking_md5(spark, sf_dir):
    """M1/M3 + J8 under an exact oracle: md5-mode hash embedder (token →
    deterministic vector, mean pooling) feeding the exact top-3 cosine
    join — the first M-family pipeline whose *values* (not just shapes)
    are hash-checked against DuckDB end-to-end."""
    from ..encoders.hashing import HashingWordEmbedder
    from ..functions.vectors import topk_cosine_join

    enc = HashingWordEmbedder(dim=8, hash_fn="md5")
    # the expr path inlines lazy encoder projections into the per-pair
    # similarity — see topk_cosine_join's CALLER NOTE
    left = ckpt.persist(enc.encode(_cust_frame(spark, sf_dir).concat_values()))
    right = ckpt.persist(enc.encode(_supp_frame(spark, sf_dir).concat_values()))
    out = topk_cosine_join(left, right, k=3, impl="expr")
    return out.withColumn("sim", F.round("sim", 6))


def _power_iter_named(iters: int, mat: str, prefix: str) -> str:
    """`_power_iter_sql` with addressable matrix/vector CTE names, so a
    deflation chain can run the power method on successive matrices."""
    steps = [
        f"{prefix}0 AS (SELECT list_transform(generate_series(1, 8),"
        f" x -> 1.0 / sqrt(8.0)) u)"
    ]
    prev = f"{prefix}0"
    for t in range(1, iters + 1):
        steps.append(
            f"{prefix}w{t} AS (SELECT list_transform(m, r -> list_inner_product(r, u)) w"
            f" FROM {mat}, {prev})"
        )
        # the terminal u is referenced by several downstream CTEs —
        # materialize it so the whole chain evaluates exactly once
        mark = " MATERIALIZED" if t == iters else ""
        steps.append(
            f"{prefix}{t} AS{mark} (SELECT list_transform(w, x -> x / sqrt(list_inner_product(w, w))) u"
            f" FROM {prefix}w{t})"
        )
        prev = f"{prefix}{t}"
    return ",\n    ".join(steps)


_DEEPBLOCKER_MD5_SQL = (
    _TOKENS_SQL
    + """
    , dims AS (SELECT unnest(generate_series(0, {dmax})) d),
    lv AS (SELECT id, d, avg(CASE d {lcase} END) v
           FROM lt CROSS JOIN dims GROUP BY id, d),
    rv AS (SELECT id, d, avg(CASE d {lcase} END) v
           FROM rt CROSS JOIN dims GROUP BY id, d),
    lvecs AS (SELECT id, list(v ORDER BY d) vec FROM lv GROUP BY id),
    rvecs AS (SELECT id, list(v ORDER BY d) vec FROM rv GROUP BY id),
    uv AS (SELECT 'L:' || id AS sid, vec FROM lvecs
           UNION ALL SELECT 'R:' || id, vec FROM rvecs),
    samp AS (SELECT vec, row_number() OVER (ORDER BY md5(sid), sid) rn
             FROM uv ORDER BY md5(sid), sid LIMIT 2000),
    cells AS (SELECT di.d di, dj.d dj,
                     list_sum(list(vec[di.d + 1] * vec[dj.d + 1] ORDER BY rn)) c
              FROM samp CROSS JOIN dims di CROSS JOIN dims dj
              GROUP BY di.d, dj.d),
    mrows AS (SELECT di, list(c ORDER BY dj) r FROM cells GROUP BY di),
    -- MATERIALIZED: mat0 is referenced by all 20 power steps AND the
    -- deflation; the nested reference chain (power_b -> mat1 -> ua20
    -- -> ... -> mat0) otherwise inlines into a plan whose size is the
    -- product of the two chains and planning never finishes
    mat0 AS MATERIALIZED (SELECT list(r ORDER BY di) m FROM mrows),
    {power_a},
    defw AS (SELECT list_transform(m, r -> list_inner_product(r, u)) w
             FROM mat0, {ua}),
    defl AS (SELECT list_inner_product(u, w) l FROM {ua}, defw),
    mat1 AS MATERIALIZED (SELECT list_transform(m, (r, i) ->
                      list_transform(r, (c, j) -> c - l * u[i] * u[j])) m
             FROM mat0, {ua}, defl),
    {power_b},
    lp AS (SELECT l.id, [list_inner_product(l.vec, a.u),
                         list_inner_product(l.vec, b.u)] p
           FROM lvecs l, {ua} a, {ub} b),
    rp AS (SELECT r.id, [list_inner_product(r.vec, a.u),
                         list_inner_product(r.vec, b.u)] p
           FROM rvecs r, {ua} a, {ub} b),
    sims AS (SELECT l.id qid, r.id nid,
                    list_inner_product(l.p, r.p)
                    / (sqrt(list_inner_product(l.p, l.p))
                       * sqrt(list_inner_product(r.p, r.p))) sim
             FROM lp l CROSS JOIN rp r)
    SELECT qid AS query_id, nid AS neighbor_id, round(sim, 6) AS sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, nid ASC) rank
      FROM sims) WHERE rank <= 3
    """
)


@register(
    "deepblocker_knn_blocking_md5",
    _DEEPBLOCKER_MD5_SQL.format(
        stop=_STOP_SQL,
        dmax=7,
        lcase=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
        power_a=_power_iter_named(20, "mat0", "ua"),
        power_b=_power_iter_named(20, "mat1", "ub"),
        ua="ua20",
        ub="ub20",
    ),
)
def deepblocker_knn_blocking_md5_q(spark, sf_dir):
    """M6 (DeepBlocker linear autoencoder) under an EXACT oracle: the
    AE optimum is the PCA subspace, and the top-2 principal directions
    come from ``topk_pc_power`` — fixed-iteration power method with
    Hotelling deflation (``C -= λuuᵀ``) on the md5-ordered union
    sample, every step sequential floats, so the oracle re-derives the
    learned projection itself (power chain → rank-one deflation via
    indexed-lambda list_transform → second power chain) and then the
    projected top-3 cosine join.  The stochastic-SVD production path
    (`deepblocker_knn_blocking`) stays rows-only; this is its
    value-checked twin — with this, every M-family (pooling, SIF/PC,
    DeepBlocker, GCN, LightEA, clustering) has an exact-oracled
    member."""
    from ..encoders.deepblocker import _project_expr
    from ..encoders.hashing import HashingWordEmbedder, topk_pc_power
    from ..functions.vectors import topk_cosine_join

    enc = HashingWordEmbedder(dim=8, hash_fn="md5")
    left = ckpt.persist(enc.encode(_cust_frame(spark, sf_dir).concat_values()))
    right = ckpt.persist(enc.encode(_supp_frame(spark, sf_dir).concat_values()))
    both = left.select(
        F.concat(F.lit("L:"), F.col("id").cast("string")).alias("id"), "vector"
    ).unionByName(
        right.select(
            F.concat(F.lit("R:"), F.col("id").cast("string")).alias("id"), "vector"
        )
    )
    comps = topk_pc_power(both, k=2, sample_n=2000, iters=20)
    proj = lambda df: df.select(
        "id", _project_expr(F.col("vector"), comps).alias("vector")
    )
    out = topk_cosine_join(proj(left), proj(right), k=3, impl="expr")
    return out.withColumn("sim", F.round("sim", 6))


def _gd_iter_ctes(iters: int, dim1: int, lr: str) -> tuple[str, str]:
    """Unrolled fixed-iteration logistic-GD CTE chain (shared by the
    quality-classifier and CTT exact twins).  Expects CTEs ``train``
    (columns ``h, doc_id, y, x`` — x a ``dim1``-element list with the
    bias appended) and ``tn(m)``; per iteration computes p (sigmoid of
    a sequential dot), g (per-feature ORDERED sums over the md5-ranked
    slice), and the next weight list.  Returns (ctes_sql, final_w)."""
    it_ctes = []
    prev_w = "w0"
    for k in range(1, iters + 1):
        mark = " MATERIALIZED" if k == iters else ""
        it_ctes.append(
            f"""
    p{k} AS (SELECT t.*,
             1.0 / (1.0 + exp(-(list_sum(list_transform(list_zip(w.w, t.x),
                                                        q -> q[1] * q[2]))))) AS p
             FROM train t CROSS JOIN {prev_w} w),
    g{k} AS (SELECT s.j,
             list_sum(list((p{k}.p - p{k}.y) * p{k}.x[s.j]
                           ORDER BY p{k}.h, p{k}.doc_id)) AS gj
             FROM p{k}, unnest(generate_series(1, {dim1})) s(j) GROUP BY s.j),
    w{k} AS{mark} (SELECT list(w.w[g.j] - {lr} * g.gj / t.m ORDER BY g.j) AS w
             FROM g{k} g CROSS JOIN {prev_w} w CROSS JOIN tn t)"""
        )
        prev_w = f"w{k}"
    return ",".join(it_ctes), prev_w



def _ctt_perturbed(conc, prefix):
    """Deterministic hash-gated token dropout (the CTT perturbation):
    token survives iff md5-prefix(token:uid:42) % 100 >= 20 — the SQL
    twin is ``_CTT_GATE_SQL``."""
    from ..functions.text import tokenize

    uid = F.concat(F.lit(prefix), F.col("id").cast("string"))
    kept = F.filter(
        tokenize("text", 3),
        lambda t: F.conv(
            F.substring(F.md5(F.concat_ws(":", t, uid, F.lit("42"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 100
        >= 20,
    )
    return conc.select("id", F.array_join(kept, " ").alias("text"))


_CTT_GATE_SQL = (
    "CAST(list_sum(list_transform(range(1, 9), i -> "
    "(strpos('0123456789abcdef', substr(md5(tok || ':' || uid || ':42'), "
    "CAST(i AS INT), 1)) - 1) * CAST(16 ** (8 - i) AS BIGINT))) AS BIGINT) "
    "% 100 >= 20"
)

_CTT_MD5_SQL = (
    _TOKENS_SQL
    + """
    , ut AS (SELECT 'L:' || id AS uid, tok FROM lt
             UNION ALL SELECT 'R:' || id, tok FROM rt),
    dims AS (SELECT unnest(generate_series(0, 7)) d),
    oe AS (SELECT uid, d, avg(CASE d {lcase} END) v
           FROM ut CROSS JOIN dims GROUP BY uid, d),
    ovec AS MATERIALIZED (SELECT uid, list(v ORDER BY d) vec FROM oe GROUP BY uid),
    pt AS (SELECT uid, tok FROM ut WHERE {gate}),
    pe AS (SELECT uid, d, avg(CASE d {lcase} END) v
           FROM pt CROSS JOIN dims GROUP BY uid, d),
    pvec AS MATERIALIZED (SELECT uid, list(v ORDER BY d) vec FROM pe GROUP BY uid),
    rk AS (SELECT uid, row_number() OVER (ORDER BY md5(uid), uid) rn FROM ovec),
    cnt AS (SELECT count(*) c FROM rk),
    pos AS (
      SELECT 'P:' || o.uid AS pair_key, 1.0 AS y,
             list_transform(list_zip(o.vec, p.vec), q -> abs(q[1] - q[2]))
               || [1.0] AS x
      FROM ovec o JOIN pvec p USING (uid)),
    neg AS (
      SELECT 'N:' || a.uid AS pair_key, 0.0 AS y,
             list_transform(list_zip(oa.vec, ob.vec), q -> abs(q[1] - q[2]))
               || [1.0] AS x
      FROM rk a
      JOIN rk b ON b.rn = (a.rn % (SELECT c FROM cnt)) + 1
      JOIN ovec oa ON oa.uid = a.uid
      JOIN ovec ob ON ob.uid = b.uid),
    allp AS (SELECT pair_key, y, x, md5(pair_key) h FROM pos
             UNION ALL SELECT pair_key, y, x, md5(pair_key) FROM neg),
    train AS MATERIALIZED (
      SELECT pair_key AS doc_id, y, h, x FROM (
        SELECT allp.*, row_number() OVER (ORDER BY h, pair_key) rn FROM allp)
      WHERE rn <= 400),
    tn AS (SELECT count(*)::DOUBLE AS m FROM train),
    w0 AS (SELECT [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS w),{gd}
    , lw AS (SELECT substr(uid, 3) id,
                    list_transform(vec, (x, i) -> x * abs(w.w[i])) rv
             FROM ovec, {wlast} w WHERE uid LIKE 'L:%'),
    rw AS (SELECT substr(uid, 3) id,
                  list_transform(vec, (x, i) -> x * abs(w.w[i])) rv
           FROM ovec, {wlast} w WHERE uid LIKE 'R:%'),
    sims AS (SELECT l.id qid, r.id nid,
                    list_sum(list_transform(list_zip(l.rv, r.rv),
                                            q -> q[1] * q[2]))
                    / (sqrt(list_sum(list_transform(l.rv, x -> x * x)))
                       * sqrt(list_sum(list_transform(r.rv, x -> x * x)))) sim
             FROM lw l CROSS JOIN rw r)
    SELECT qid AS query_id, nid AS neighbor_id, round(sim, 5) AS sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, nid ASC) rank
      FROM sims) WHERE rank <= 3
    """
)


def _ctt_oracle() -> str:
    gd_sql, wlast = _gd_iter_ctes(4, 9, "0.5")
    return _CTT_MD5_SQL.format(
        stop=_STOP_SQL,
        lcase=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
        gate=_CTT_GATE_SQL,
        gd=gd_sql,
        wlast=wlast,
    )


@register("deepblocker_ctt_knn_md5", _ctt_oracle())
def deepblocker_ctt_knn_md5_q(spark, sf_dir):
    """M7 (DeepBlocker cross-tuple training) under an EXACT oracle:
    positives pair each entity's md5 embedding with a DETERMINISTIC
    hash-gated token-dropout perturbation of itself; negatives pair it
    with the next entity in md5 order (the pseudo-random partner);
    the siamese head is the sequential-GD logistic trainer on |u−v|
    features (weights value-checked via the shared unrolled CTE
    chain), and its |coefficients| re-weight the embedding dimensions
    before the exact top-3 cosine join — the full reference CTT
    dataflow (perturb → pair → train → summarize → search,
    ref ``encoders/deepblocker.py:181-357``) with every float
    reproducible.  The MLlib production variant stays in
    ``CrossTupleTrainingEncoder``; rank/sims rounded to 5dp (pooled
    doubles drift ~1e-13 through training).  The global md5-order
    window runs over ENTITIES (bounded per md5 sample contract)."""
    from pyspark.sql import Window

    from ..encoders.hashing import HashingWordEmbedder
    from ..functions.text import tokenize
    from ..functions.vectors import topk_cosine_join
    from ..ops.quality_model import sequential_logistic_gd

    enc = HashingWordEmbedder(dim=8, hash_fn="md5")
    lconc = _cust_frame(spark, sf_dir).concat_values()
    rconc = _supp_frame(spark, sf_dir).concat_values()
    perturbed = _ctt_perturbed
    left = ckpt.persist(enc.encode(lconc))
    right = ckpt.persist(enc.encode(rconc))
    lpert = enc.encode(perturbed(lconc, "L:"))
    rpert = enc.encode(perturbed(rconc, "R:"))

    def u(df, prefix):
        return df.select(
            F.concat(F.lit(prefix), F.col("id").cast("string")).alias("uid"),
            F.col("vector"),
        )

    orig = u(left, "L:").unionByName(u(right, "R:"))
    pert = u(lpert, "L:").unionByName(u(rpert, "R:"))
    absdiff = lambda a, b: F.concat(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.array(F.lit(1.0))
    )
    pos = orig.alias("o").join(pert.alias("p"), "uid").select(
        F.concat(F.lit("P:"), F.col("uid")).alias("pair_key"),
        F.lit(1.0).alias("y"),
        absdiff(F.col("o.vector"), F.col("p.vector")).alias("x"),
    )
    rk = ckpt.persist(
        orig.select(
            "uid", "vector", F.row_number().over(
                Window.orderBy(F.md5("uid"), F.col("uid"))
            ).alias("rn"),
        )
    )
    n_ent = rk.count()
    partner = rk.select(
        F.col("rn").alias("prn"), F.col("vector").alias("pv")
    )
    neg = rk.join(
        partner, (F.col("rn") % F.lit(n_ent)) + 1 == F.col("prn")
    ).select(
        F.concat(F.lit("N:"), F.col("uid")).alias("pair_key"),
        F.lit(0.0).alias("y"),
        absdiff(F.col("vector"), F.col("pv")).alias("x"),
    )
    pairs = pos.unionByName(neg).withColumn("h", F.md5("pair_key"))
    rows = [
        (r["x"], r["y"])
        for r in pairs.orderBy("h", "pair_key").limit(400).collect()
    ]
    w = sequential_logistic_gd(rows, 9, 4, 0.5)
    aw = F.array(*[F.lit(abs(float(v))) for v in w[:8]])
    rewt = lambda df: df.select(
        "id", F.zip_with("vector", aw, lambda x, a: x * a).alias("vector")
    )
    out = topk_cosine_join(rewt(left), rewt(right), k=3, impl="expr")
    return out.withColumn("sim", F.round("sim", 5))


_HYBRID_MD5_SQL = (
    _TOKENS_SQL
    + """
    , dims AS (SELECT unnest(generate_series(0, {dmax})) d),
    lv AS (SELECT id, d, avg(CASE d {lcase} END) v
           FROM lt CROSS JOIN dims GROUP BY id, d),
    rv AS (SELECT id, d, avg(CASE d {lcase} END) v
           FROM rt CROSS JOIN dims GROUP BY id, d),
    lvecs AS (SELECT id, list(v ORDER BY d) vec FROM lv GROUP BY id),
    rvecs AS (SELECT id, list(v ORDER BY d) vec FROM rv GROUP BY id),
    uv AS MATERIALIZED (SELECT 'L:' || id AS uid, vec FROM lvecs
           UNION ALL SELECT 'R:' || id, vec FROM rvecs),
    samp AS (SELECT vec, row_number() OVER (ORDER BY md5(uid), uid) rn
             FROM uv ORDER BY md5(uid), uid LIMIT 2000),
    cells AS (SELECT di.d di, dj.d dj,
                     list_sum(list(vec[di.d + 1] * vec[dj.d + 1] ORDER BY rn)) c
              FROM samp CROSS JOIN dims di CROSS JOIN dims dj
              GROUP BY di.d, dj.d),
    mrows AS (SELECT di, list(c ORDER BY dj) r FROM cells GROUP BY di),
    hmat0 AS MATERIALIZED (SELECT list(r ORDER BY di) m FROM mrows),
    {power_a},
    hdefw AS (SELECT list_transform(m, r -> list_inner_product(r, u)) w
              FROM hmat0, {ua}),
    hdefl AS (SELECT list_inner_product(u, w) l FROM {ua}, hdefw),
    hmat1 AS MATERIALIZED (SELECT list_transform(m, (r, i) ->
                      list_transform(r, (c, j) -> c - l * u[i] * u[j])) m
             FROM hmat0, {ua}, hdefl),
    {power_b},
    po AS MATERIALIZED (
      SELECT uid, [list_inner_product(vec, a.u), list_inner_product(vec, b.u)] p
      FROM uv, {ua} a, {ub} b),
    ptok AS (SELECT 'L:' || id AS uid, tok FROM lt
             UNION ALL SELECT 'R:' || id, tok FROM rt),
    pkept AS (SELECT uid, tok FROM ptok WHERE {gate}),
    pe AS (SELECT uid, d, avg(CASE d {lcase} END) v
           FROM pkept CROSS JOIN dims GROUP BY uid, d),
    pvec8 AS (SELECT uid, list(v ORDER BY d) vec FROM pe GROUP BY uid),
    pp AS MATERIALIZED (
      SELECT uid, [list_inner_product(vec, a.u), list_inner_product(vec, b.u)] p
      FROM pvec8, {ua} a, {ub} b),
    rk AS (SELECT uid, row_number() OVER (ORDER BY md5(uid), uid) rn FROM po),
    cnt AS (SELECT count(*) c FROM rk),
    pos AS (
      SELECT 'P:' || o.uid AS pair_key, 1.0 AS y,
             list_transform(list_zip(o.p, q.p), z -> abs(z[1] - z[2]))
               || [1.0] AS x
      FROM po o JOIN pp q USING (uid)),
    neg AS (
      SELECT 'N:' || a.uid AS pair_key, 0.0 AS y,
             list_transform(list_zip(oa.p, ob.p), z -> abs(z[1] - z[2]))
               || [1.0] AS x
      FROM rk a
      JOIN rk b ON b.rn = (a.rn % (SELECT c FROM cnt)) + 1
      JOIN po oa ON oa.uid = a.uid
      JOIN po ob ON ob.uid = b.uid),
    allp AS (SELECT pair_key, y, x, md5(pair_key) h FROM pos
             UNION ALL SELECT pair_key, y, x, md5(pair_key) FROM neg),
    train AS MATERIALIZED (
      SELECT pair_key AS doc_id, y, h, x FROM (
        SELECT allp.*, row_number() OVER (ORDER BY h, pair_key) rn FROM allp)
      WHERE rn <= 400),
    tn AS (SELECT count(*)::DOUBLE AS m FROM train),
    w0 AS (SELECT [0.0, 0.0, 0.0] AS w),{gd}
    , lw AS (SELECT substr(uid, 3) id,
                    list_transform(p, (x, i) -> x * abs(w.w[i])) rv
             FROM po, {wlast} w WHERE uid LIKE 'L:%'),
    rw AS (SELECT substr(uid, 3) id,
                  list_transform(p, (x, i) -> x * abs(w.w[i])) rv
           FROM po, {wlast} w WHERE uid LIKE 'R:%'),
    sims AS (SELECT l.id qid, r.id nid,
                    list_sum(list_transform(list_zip(l.rv, r.rv),
                                            q -> q[1] * q[2]))
                    / (sqrt(list_sum(list_transform(l.rv, x -> x * x)))
                       * sqrt(list_sum(list_transform(r.rv, x -> x * x)))) sim
             FROM lw l CROSS JOIN rw r)
    SELECT qid AS query_id, nid AS neighbor_id, round(sim, 5) AS sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, nid ASC) rank
      FROM sims) WHERE rank <= 3
    """
)


def _hybrid_oracle() -> str:
    gd_sql, wlast = _gd_iter_ctes(4, 3, "0.5")
    return _HYBRID_MD5_SQL.format(
        stop=_STOP_SQL,
        dmax=7,
        lcase=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
        gate=_CTT_GATE_SQL,
        power_a=_power_iter_named(20, "hmat0", "hua"),
        power_b=_power_iter_named(20, "hmat1", "hub"),
        ua="hua20",
        ub="hub20",
        gd=gd_sql,
        wlast=wlast,
    )


@register("deepblocker_hybrid_knn_md5", _hybrid_oracle())
def deepblocker_hybrid_knn_md5_q(spark, sf_dir):
    """M8 (DeepBlocker hybrid) under an EXACT oracle — the M6 + M7
    composition with every float reproducible: deterministic top-2 PCA
    (power + Hotelling deflation) projects both sides AND each
    entity's hash-gated perturbation into 2-d; the CTT sequential-GD
    siamese head trains on the PROJECTED |u−v| features; its
    |coefficients| re-weight the projected dimensions before the exact
    top-3 cosine join.  One oracle re-derives the whole stack: two
    power chains, the rank-one deflation, the perturbed projections,
    the unrolled GD, the re-weighting, and the rank boundaries.  With
    this, M6, M7, AND M8 are all value-checked — the entire DeepBlocker
    family."""
    from pyspark.sql import Window

    from ..encoders.deepblocker import _project_expr
    from ..encoders.hashing import HashingWordEmbedder, topk_pc_power
    from ..functions.vectors import topk_cosine_join
    from ..ops.quality_model import sequential_logistic_gd

    enc = HashingWordEmbedder(dim=8, hash_fn="md5")
    lconc = _cust_frame(spark, sf_dir).concat_values()
    rconc = _supp_frame(spark, sf_dir).concat_values()
    left = ckpt.persist(enc.encode(lconc))
    right = ckpt.persist(enc.encode(rconc))
    lpert = enc.encode(_ctt_perturbed(lconc, "L:"))
    rpert = enc.encode(_ctt_perturbed(rconc, "R:"))

    def u(df, prefix):
        return df.select(
            F.concat(F.lit(prefix), F.col("id").cast("string")).alias("uid"),
            F.col("vector"),
        )

    both = ckpt.persist(u(left, "L:").unionByName(u(right, "R:")))
    comps = topk_pc_power(
        both.select(F.col("uid").alias("id"), "vector"), k=2, sample_n=2000, iters=20
    )
    proj = lambda df: df.select(
        "uid", _project_expr(F.col("vector"), comps).alias("p")
    )
    po = ckpt.persist(proj(both))
    pp = proj(u(lpert, "L:").unionByName(u(rpert, "R:")))
    absdiff = lambda a, b: F.concat(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.array(F.lit(1.0))
    )
    pos = po.alias("o").join(pp.alias("q"), "uid").select(
        F.concat(F.lit("P:"), F.col("uid")).alias("pair_key"),
        F.lit(1.0).alias("y"),
        absdiff(F.col("o.p"), F.col("q.p")).alias("x"),
    )
    rk = ckpt.persist(
        po.select(
            "uid", "p",
            F.row_number().over(Window.orderBy(F.md5("uid"), F.col("uid"))).alias("rn"),
        )
    )
    n_ent = rk.count()
    partner = rk.select(F.col("rn").alias("prn"), F.col("p").alias("pb"))
    neg = rk.join(
        partner, (F.col("rn") % F.lit(n_ent)) + 1 == F.col("prn")
    ).select(
        F.concat(F.lit("N:"), F.col("uid")).alias("pair_key"),
        F.lit(0.0).alias("y"),
        absdiff(F.col("p"), F.col("pb")).alias("x"),
    )
    pairs = pos.unionByName(neg).withColumn("h", F.md5("pair_key"))
    rows = [
        (r["x"], r["y"])
        for r in pairs.orderBy("h", "pair_key").limit(400).collect()
    ]
    w = sequential_logistic_gd(rows, 3, 4, 0.5)
    aw = F.array(*[F.lit(abs(float(v))) for v in w[:2]])

    def rewt(prefix):
        return po.where(F.col("uid").startswith(prefix)).select(
            F.expr("substr(uid, 3)").alias("id"),
            F.zip_with("p", aw, lambda x, a: x * a).alias("vector"),
        )

    out = topk_cosine_join(rewt("L:"), rewt("R:"), k=3, impl="expr")
    return out.withColumn("sim", F.round("sim", 5))


@register(
    "ann_topk_signlsh",
    """
    WITH qb AS (
      SELECT vec_id, embedding,
             array_to_string(list_transform(embedding[1:16],
                             x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') bits
      FROM embeddings WHERE vec_id % 10 = 0),
    ib AS (
      SELECT vec_id, embedding,
             array_to_string(list_transform(embedding[1:16],
                             x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') bits
      FROM embeddings),
    qx AS (SELECT vec_id, embedding, c, substr(bits, c * 4 + 1, 4) sig
           FROM qb CROSS JOIN (SELECT unnest(generate_series(0, 3)) c)),
    ix AS (SELECT vec_id, embedding, c, substr(bits, c * 4 + 1, 4) sig
           FROM ib CROSS JOIN (SELECT unnest(generate_series(0, 3)) c)),
    cand AS (
      SELECT DISTINCT q.vec_id query_id, i.vec_id neighbor_id,
             q.embedding qe, i.embedding ie
      FROM qx q JOIN ix i ON q.c = i.c AND q.sig = i.sig),
    sims AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qe, ie),
                                     p -> p[1]::DOUBLE * p[2]::DOUBLE))
             / (sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(ie, x -> x::DOUBLE * x::DOUBLE)))) sim
      FROM cand)
    SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) rank
      FROM sims) WHERE rank <= 5
    """,
)
def ann_topk_signlsh_q(spark, sf_dir):
    """Deterministic ANN under an exact oracle: axis-hyperplane sign-LSH
    candidates (banded sign bits, equi-join) ranked by exact cosine,
    top-5 — the value-checked member of the ANN family (the sampled-
    hyperplane and KMeans members are rows-only by nature)."""
    from ..ops.similarity import ann_topk_signlsh

    emb = _t(spark, sf_dir, "embeddings")
    out = ann_topk_signlsh(emb.where(F.col("vec_id") % 10 == 0), emb, k=5)
    return out.withColumn("sim", F.round("sim", 6))


@register("ann_topk_ivf")
def ann_topk_ivf_q(spark, sf_dir):
    """IVF approximate kNN (KMeans coarse quantizer → probe top-4 of 16
    inverted lists).  KMeans is iterative/stochastic → rows-only check;
    recall-vs-exact is asserted in tests/test_ops.py; the md5 twin
    (deterministic quantizer, identical plan) carries the exact
    oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    out = ann_topk_ivf(emb.where(F.col("vec_id") % 10 == 0), emb, k=10)
    return out.withColumn("sim", F.round("sim", 6))


#: Shared DuckDB cosine-similarity template (dedup/dbscan/ivf/hubness
#: oracles all format this with their column names).
_COS_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
    " / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    "    * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
)


@register(
    "dbscan_labels",
    f"""
    WITH RECURSIVE pts AS (SELECT vec_id::VARCHAR id, embedding v FROM embeddings),
    edges AS (
      SELECT a.id, b.id nid FROM pts a JOIN pts b ON a.id <> b.id
      WHERE {_COS_SQL.format(a="a.v", b="b.v")} >= 0.9),
    deg AS (SELECT id, count(*) + 1 deg FROM edges GROUP BY id),
    core AS (SELECT p.id FROM pts p LEFT JOIN deg USING (id)
             WHERE coalesce(deg, 1) >= 4),
    core_edges AS (SELECT e.id, e.nid FROM edges e
                   JOIN core c1 ON e.id = c1.id JOIN core c2 ON e.nid = c2.id),
    reach AS (
      SELECT id, id AS label FROM core
      UNION
      SELECT ce.id, r.label FROM core_edges ce JOIN reach r ON r.id = ce.nid),
    core_label AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
    border AS (
      SELECT e.id, min(cl.label) AS label
      FROM edges e JOIN core_label cl ON cl.id = e.nid
      WHERE e.id NOT IN (SELECT id FROM core)
      GROUP BY e.id)
    SELECT id, label FROM core_label
    UNION ALL SELECT id, label FROM border
    UNION ALL
    SELECT p.id, '-1' AS label FROM pts p
    WHERE p.id NOT IN (SELECT id FROM core_label)
      AND p.id NOT IN (SELECT id FROM border)
    """,
)
def dbscan_labels_q(spark, sf_dir):
    """M14 density clustering with real noise semantics: distributed
    DBSCAN over the embeddings table (ε-join → core points → min-label
    propagation to fixpoint → border attach → '-1' noise).  The oracle
    reproduces the fixpoint with a recursive CTE, so the whole
    iterative pipeline is value-checked."""
    from ..ops.clustering import dbscan_labels

    emb = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id as id", "embedding as vector"
    )
    return dbscan_labels(emb, min_sim=0.9, min_pts=4)


_HUB_BASE_SQL = """
    WITH q AS (SELECT vec_id id, embedding v FROM embeddings WHERE vec_id % 10 = 0),
    ix AS (SELECT vec_id id, embedding v FROM embeddings),
    sims AS (
      SELECT q.id qid, ix.id nid,
             list_sum(list_transform(list_zip(q.v, ix.v),
                                     p -> p[1]::DOUBLE * p[2]::DOUBLE))
             / (sqrt(list_sum(list_transform(q.v, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(ix.v, x -> x::DOUBLE * x::DOUBLE)))) sim
      FROM q CROSS JOIN ix),
    fwd AS (
      SELECT qid, nid, sim, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) rk
        FROM sims) WHERE rk <= 10),
    rev AS (
      SELECT qid, nid, sim, rk2 FROM (
        SELECT *, row_number() OVER (PARTITION BY nid ORDER BY sim DESC, qid ASC) rk2
        FROM sims) WHERE rk2 <= 10)
"""


@register(
    "csls_topk",
    _HUB_BASE_SQL
    + """
    , rf AS (SELECT qid, avg(sim) r FROM fwd GROUP BY qid),
    rr AS (SELECT nid, avg(sim) r FROM rev GROUP BY nid),
    scored AS (
      SELECT f.qid query_id, f.nid neighbor_id, 2*f.sim - rf.r - rr.r csls
      FROM fwd f JOIN rf ON f.qid = rf.qid JOIN rr ON f.nid = rr.nid)
    SELECT query_id, neighbor_id, round(csls, 6) AS csls, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY csls DESC, neighbor_id ASC) rank
      FROM scored) WHERE rank <= 5
    """,
)
def csls_topk_q(spark, sf_dir):
    """M18: CSLS hubness-reduced kNN — penalize hub vectors by both
    endpoints' local densities.  NOTE: the reverse search ranks index
    vectors against the QUERY SUBSET only (kiez's symmetric fit on the
    two sides given), so the oracle reuses one sims CTE."""
    from ..ops.similarity import csls_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = csls_topk(emb.where(F.col("vec_id") % 10 == 0), emb, k=5, n_candidates=10)
    return out.withColumn("csls", F.round("csls", 6))


@register(
    "nicdm_topk",
    _HUB_BASE_SQL
    + """
    , mf AS (SELECT qid, avg(greatest(1 - sim, 0)) mu FROM fwd GROUP BY qid),
    mr AS (SELECT nid, avg(greatest(1 - sim, 0)) mu FROM rev GROUP BY nid),
    scored AS (
      SELECT f.qid query_id, f.nid neighbor_id,
             CASE WHEN sqrt(mf.mu * mr.mu) = 0 THEN greatest(1 - f.sim, 0)
                  ELSE greatest(1 - f.sim, 0) / sqrt(mf.mu * mr.mu) END nd
      FROM fwd f JOIN mf ON f.qid = mf.qid JOIN mr ON f.nid = mr.nid)
    SELECT query_id, neighbor_id, round(nd, 6) AS nicdm_dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY nd ASC, neighbor_id ASC) rank
      FROM scored) WHERE rank <= 5
    """,
)
def nicdm_topk_q(spark, sf_dir):
    """M18: NICDM local-scaling hubness reduction — candidate distances
    normalized by the geometric mean of both endpoints' neighborhood
    scales (kiez hubness="nicdm")."""
    from ..ops.similarity import nicdm_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = nicdm_topk(emb.where(F.col("vec_id") % 10 == 0), emb, k=5, n_candidates=10)
    return out.withColumn("nicdm_dist", F.round("nicdm_dist", 6))


@register(
    "mutual_rank_topk",
    _HUB_BASE_SQL
    + """
    , scored AS (
      SELECT f.qid query_id, f.nid neighbor_id, round(f.sim, 6) AS sim,
             f.rk + coalesce(r.rk2, 11) AS mutual_rank
      FROM fwd f LEFT JOIN rev r ON f.qid = r.qid AND f.nid = r.nid)
    SELECT query_id, neighbor_id, sim, mutual_rank, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY mutual_rank ASC, neighbor_id ASC) rank
      FROM scored) WHERE rank <= 5
    """,
)
def mutual_rank_topk_q(spark, sf_dir):
    """M18: mutual-rank hubness reduction — forward rank + reverse rank
    (missing reverse rank ⇒ n_candidates+1), integer-deterministic."""
    from ..ops.similarity import mutual_rank_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = mutual_rank_topk(emb.where(F.col("vec_id") % 10 == 0), emb, k=5, n_candidates=10)
    return out.withColumn("sim", F.round("sim", 6))





_IVF_MD5_ORACLE = f"""
    WITH ix AS (SELECT vec_id id, embedding v FROM embeddings),
    cents AS (
      SELECT row_number() OVER (ORDER BY h, id) - 1 AS cid, v AS cv
      FROM (SELECT id, v, md5(id::VARCHAR) h FROM ix
            ORDER BY h, id LIMIT 16)),
    assign AS (
      SELECT id, v, cid FROM (
        SELECT ix.id, ix.v, c.cid,
               row_number() OVER (
                 PARTITION BY ix.id
                 ORDER BY {_COS_SQL.format(a="ix.v", b="c.cv")} DESC, c.cid ASC) rn
        FROM ix CROSS JOIN cents c) WHERE rn = 1),
    probes AS (
      SELECT qid, qv, cid FROM (
        SELECT q.id qid, q.v qv, c.cid,
               row_number() OVER (
                 PARTITION BY q.id
                 ORDER BY {_COS_SQL.format(a="q.v", b="c.cv")} DESC, c.cid ASC) rn
        FROM (SELECT id, v FROM ix WHERE id % 10 = 0) q CROSS JOIN cents c)
      WHERE rn <= 4),
    cand AS (
      SELECT p.qid query_id, a.id neighbor_id,
             {_COS_SQL.format(a="p.qv", b="a.v")} sim
      FROM probes p JOIN assign a USING (cid))
    SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) rank
      FROM cand) WHERE rank <= 10
    """


@register("ann_topk_ivf_md5", _IVF_MD5_ORACLE)
def ann_topk_ivf_md5_q(spark, sf_dir):
    """IVF with the deterministic hash-sample quantizer: centroids are
    the 16 index vectors ranked first by md5(id), assignment and probe
    are pure-Catalyst cosine scoring — every stage reproducible in SQL,
    so the full IVF pipeline (quantize → assign → probe → list search →
    merge) is value-checked end-to-end, not rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    out = ann_topk_ivf(
        emb.where(F.col("vec_id") % 10 == 0), emb, k=10, quantizer="hash_sample"
    )
    return out.withColumn("sim", F.round("sim", 6))


def _src_fingerprint(src_path: str) -> list:
    """Driver-side (no Spark job) fingerprint of a source parquet file
    or directory: sorted (name, size, mtime) triples.  Catches the
    same-path-regenerated-data staleness case without a count job in
    the timed search path."""
    import os

    if os.path.isdir(src_path):
        files = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(src_path)
            for f in fs
            if not f.startswith(("_", "."))
        )
    else:
        files = [src_path]
    return [
        [os.path.basename(p), os.path.getsize(p), int(os.path.getmtime(p))]
        for p in files
    ]


#: Version of the index build and list-assignment rules, recorded in
#: every index manifest.  Bump it whenever a build or assignment rule
#: changes, so indexes an older build left behind are rebuilt.
INDEX_BUILD_VERSION = 2


def _index_current(path: str, src_path: str, **meta) -> bool:
    """True iff ``path`` holds a COMPLETED index built from the data
    currently at ``src_path`` by this build version with the same
    ``meta`` (kind, centroid count, quantizer, ...).  The manifest is
    written last by :func:`_write_index_manifest`, so a crashed build
    (no manifest), an index built from older regenerated data
    (fingerprint mismatch), by an older build or with other settings
    all trigger a rebuild instead of silently serving wrong lists."""
    import json as _json
    import os

    mf = os.path.join(path, "_MANIFEST.json")
    if not os.path.isfile(mf):
        return False
    try:
        with open(mf) as fh:
            got = _json.load(fh)
    except Exception:
        return False
    return all(got.get(k) == v for k, v in _manifest(src_path, meta).items())


def _manifest(src_path: str, meta: dict) -> dict:
    """The manifest of an index this build makes from ``src_path``."""
    fingerprint = _src_fingerprint(src_path)
    return {"src_fingerprint": fingerprint, "build_version": INDEX_BUILD_VERSION, **meta}


def _derived_path(name: str) -> str:
    """Where a query keeps a table it derives from its input (a
    persisted index, a bucketed copy): under the system temp directory,
    never under the package, which may be read-only."""
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(), f"klinker_{name}")


def _write_index_manifest(path: str, src_path: str, **meta) -> None:
    import json as _json
    import os

    with open(os.path.join(path, "_MANIFEST.json"), "w") as fh:
        _json.dump(_manifest(src_path, meta), fh)


@register("ann_topk_ivf_indexed")
def ann_topk_ivf_indexed_q(spark, sf_dir):
    """Persisted-IVF ANN: build the partitioned-parquet inverted-list
    index (KMeans → write partitionBy centroid_id), then probe it —
    the probe set reaches the scan as a static partition filter
    (PartitionFilters asserted in tests/test_plans.py).  KMeans is
    iterative → rows-only check."""
    import os

    from ..ops.similarity import ann_topk_ivf_indexed, build_ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = _derived_path(f"ivf_{sf_tag}")
    src = os.path.join(sf_dir, "embeddings.parquet")
    meta = dict(kind="ivf", n_centroids=16, quantizer="kmeans")
    if not _index_current(path, src, **meta):
        build_ivf_index(emb, path, n_centroids=16)
        _write_index_manifest(path, src, **meta)
    out = ann_topk_ivf_indexed(emb.where(F.col("vec_id") % 10 == 0), path, k=10, n_probe=4)
    return out.withColumn("sim", F.round("sim", 6))


# The persisted index is a materialization of the same pipeline
# (identical quantizer / assignment / probe / search), so this query
# shares ann_topk_ivf_md5's oracle.
@register("ann_topk_ivf_indexed_md5", _IVF_MD5_ORACLE)
def ann_topk_ivf_indexed_md5_q(spark, sf_dir):
    """Persisted-IVF ANN under an exact oracle: build the
    partitioned-parquet index with the deterministic hash-sample
    quantizer, then probe it — partition pruning, cogroup list
    search, and merge all value-checked."""
    import os

    from ..ops.similarity import ann_topk_ivf_indexed, build_ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = _derived_path(f"ivf_md5_{sf_tag}")
    src = os.path.join(sf_dir, "embeddings.parquet")
    meta = dict(kind="ivf", n_centroids=16, quantizer="hash_sample")
    if not _index_current(path, src, **meta):
        build_ivf_index(emb, path, n_centroids=16, quantizer="hash_sample")
        _write_index_manifest(path, src, **meta)
    out = ann_topk_ivf_indexed(
        emb.where(F.col("vec_id") % 10 == 0), path, k=10, n_probe=4
    )
    return out.withColumn("sim", F.round("sim", 6))


@register("ann_topk_lsh")
def ann_topk_lsh_q(spark, sf_dir):
    """LSH approximate kNN (MLlib BucketedRandomProjectionLSH on unit
    vectors; random hyperplanes → rows-only check; recall-vs-exact is
    asserted in tests/test_ops.py)."""
    from ..ops.similarity import ann_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    out = ann_topk_lsh(emb.where(F.col("vec_id") % 10 == 0), emb, k=10)
    return out.withColumn("dist", F.round("dist", 6))


