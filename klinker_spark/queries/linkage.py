"""Query registrations: linkage family (split from the original single-file registry; registration order preserved by package import order in __init__)."""
from __future__ import annotations
from .. import ckpt
from ._core import F, Window, _STOP_SQL, _t, ann_topk_ivf, brute_force_topk, qgrams, quality_score, register
from .ann import _COS_SQL, _IVF_MD5_ORACLE, _KNN_ORACLE, _derived_path, _index_current, _write_index_manifest
from .events import _NODE_TAG_SHIFT, _tag_node

# ------------------------------------------------------------------ JL projection
@register(
    "jl_projection_sketch",
    """
    WITH e AS (SELECT vec_id, i,
                      CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
                        micro
               FROM (SELECT vec_id, embedding,
                            unnest(generate_series(1, len(embedding))) i
                     FROM embeddings)),
    s AS (SELECT i, j,
                 CASE WHEN ('0x' || substr(md5('0:' || (i - 1) || ':' || j), 1, 1))::INT
                           % 2 = 0 THEN 1 ELSE -1 END sg
          FROM unnest(generate_series(1, 64)) t(i)
          CROSS JOIN unnest(generate_series(0, 15)) t2(j))
    SELECT vec_id AS id, CAST(j AS INT) out_dim,
           CAST(sum(micro * sg) AS BIGINT) comp_micro
    FROM e JOIN s USING (i) GROUP BY vec_id, j ORDER BY id, out_dim
    """,
)
def jl_projection_sketch_q(spark, sf_dir):
    """Johnson–Lindenstrauss sign projection 64 → 16 dims: oblivious
    (training-free) distance-preserving sketch with a deterministic
    md5-parity ±1 matrix; micro-snapped signed sums make every output
    coordinate an exact bigint.  posexplode → broadcast sign join →
    one aggregate — codegen end to end."""
    from ..ops.similarity import jl_project

    return jl_project(
        _t(spark, sf_dir, "embeddings"), in_dim=64, out_dim=16
    ).orderBy("id", "out_dim")


# ------------------------------------------------------------------ Fellegi–Sunter linkage scoring
def _fs_wts() -> list[tuple[int, int]]:
    from ..ops.linkage import fs_weights_nano

    return fs_weights_nano(m=[0.9, 0.85, 0.99], u=[0.05, 0.1, 0.001])


_FS_W = _fs_wts()


@register(
    "fellegi_sunter_linkage",
    f"""
    WITH u AS (
      SELECT 'L' side, CAST(c_custkey AS VARCHAR) id,
             reverse(lower(c_name)) k, lower(c_name) nm
      FROM customer
      UNION ALL
      SELECT 'R', CAST(s_suppkey AS VARCHAR),
             reverse(lower(s_name)), lower(s_name) FROM supplier),
    r AS (SELECT side, id, k, nm,
                 row_number() OVER (ORDER BY k, side, id) rank
          FROM u),
    p AS (SELECT CASE WHEN a.side = 'L' THEN a.id ELSE b.id END left_id,
                 CASE WHEN a.side = 'L' THEN a.nm ELSE b.nm END lk,
                 CASE WHEN a.side = 'L' THEN b.id ELSE a.id END right_id,
                 CASE WHEN a.side = 'L' THEN b.nm ELSE a.nm END rk
          FROM r a JOIN r b
            ON b.rank > a.rank AND b.rank - a.rank <= 4 AND a.side <> b.side),
    g AS (SELECT *,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(lk) - 2, 0)),
                   i -> substr(lk, i, 3))) ga,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(rk) - 2, 0)),
                   i -> substr(rk, i, 3))) gb
          FROM p),
    feat AS (SELECT left_id, right_id,
                    CAST(right(lk, 3) = right(rk, 3) AS INT) a_sfx,
                    CAST(3 * len(list_intersect(ga, gb)) >= len(ga) + len(gb) AS INT)
                      a_qg,
                    CAST(CAST(regexp_extract(lk, '([0-9]+)$', 1) AS BIGINT)
                         = CAST(regexp_extract(rk, '([0-9]+)$', 1) AS BIGINT) AS INT)
                      a_num
             FROM g),
    sc AS (SELECT *,
                  (CASE WHEN a_sfx = 1 THEN {_FS_W[0][0]} ELSE {_FS_W[0][1]} END
                 + CASE WHEN a_qg = 1 THEN {_FS_W[1][0]} ELSE {_FS_W[1][1]} END
                 + CASE WHEN a_num = 1 THEN {_FS_W[2][0]} ELSE {_FS_W[2][1]} END)
                    score_nano
           FROM feat)
    SELECT left_id, right_id, a_sfx, a_qg, a_num,
           CAST(score_nano AS BIGINT) score_nano,
           score_nano >= 0 is_match
    FROM sc ORDER BY left_id, right_id
    """,
)
def fellegi_sunter_linkage_q(spark, sf_dir):
    """Probabilistic record linkage: sorted-neighborhood candidates
    (customer × supplier, window 5, reversed-name sort key) scored with the Fellegi–Sunter
    log-likelihood-ratio model over three agreement features (3-char
    suffix, q-gram Jaccard ≥ ½ as a pure integer test, numeric-suffix
    equality).  Weights ln(m/u) / ln((1-m)/(1-u)) are nano-integer
    literals computed driver-side (libm-free); scoring is a pure
    projection over the candidate frame — no shuffle beyond
    blocking."""
    from ..functions.text import qgrams
    from ..ops.linkage import fellegi_sunter_score
    from ..ops.profile import sorted_neighborhood_pairs

    # SN sort key = REVERSED lowered name: the digit suffix leads, so
    # customers and suppliers with near-equal numeric ids sort
    # adjacently (forward order would segregate the two prefixes into
    # disjoint ranges and emit only boundary pairs)
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("id"),
        F.reverse(F.lower("c_name")).alias("text"),
        F.lower("c_name").alias("nm"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("id"),
        F.reverse(F.lower("s_name")).alias("text"),
        F.lower("s_name").alias("nm"),
    )
    pairs = (
        sorted_neighborhood_pairs(
            cust.select("id", "text"), supp.select("id", "text"), window=5
        )
        .join(cust.select(F.col("id").alias("left_id"), F.col("nm").alias("lk")), "left_id")
        .join(supp.select(F.col("id").alias("right_id"), F.col("nm").alias("rk")), "right_id")
    )
    ga = F.array_distinct(qgrams(F.col("lk"), 3))
    gb = F.array_distinct(qgrams(F.col("rk"), 3))
    agreements = [
        ("a_sfx", F.expr("right(lk, 3) = right(rk, 3)")),
        (
            "a_qg",
            3 * F.size(F.array_intersect(ga, gb)) >= F.size(ga) + F.size(gb),
        ),
        (
            "a_num",
            F.regexp_extract("lk", r"([0-9]+)$", 1).cast("bigint")
            == F.regexp_extract("rk", r"([0-9]+)$", 1).cast("bigint"),
        ),
    ]
    scored = fellegi_sunter_score(pairs, agreements, _FS_W, threshold_nano=0)
    return scored.select(
        "left_id", "right_id", "a_sfx", "a_qg", "a_num", "score_nano", "is_match"
    ).orderBy("left_id", "right_id")


# ------------------------------------------------------------------ HITS hubs/authorities
def _hits_oracle(iters: int = 2) -> str:
    """Unrolled-CTE integer HITS twin of ``ops/graph.py::hits`` —
    the pagerank-oracle recipe (hugeint sums, integer half-up ppm
    normalization)."""
    parts = [
        """WITH e AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) c,
                           'p:' || CAST(l_partkey AS VARCHAR) p
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    an0 AS (SELECT DISTINCT p, CAST(1000000 AS HUGEINT) score FROM e)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    h{i} AS (SELECT c, CAST(sum(score) AS HUGEINT) s FROM e JOIN an{i - 1} USING (p) GROUP BY c),
    ht{i} AS (SELECT CAST(sum(s) AS HUGEINT) tot FROM h{i}),
    hn{i} AS (SELECT c, (2000000 * s + tot) // (2 * tot) score FROM h{i} CROSS JOIN ht{i}),
    a{i} AS (SELECT p, CAST(sum(score) AS HUGEINT) s FROM e JOIN hn{i} USING (c) GROUP BY p),
    at{i} AS (SELECT CAST(sum(s) AS HUGEINT) tot FROM a{i}),
    an{i} AS (SELECT p, (2000000 * s + tot) // (2 * tot) score FROM a{i} CROSS JOIN at{i})"""
        )
    parts.append(
        f"""
    SELECT c AS node, 'hub' kind, CAST(score AS BIGINT) score_ppm FROM hn{iters}
    UNION ALL
    SELECT p, 'auth', CAST(score AS BIGINT) FROM an{iters}
    ORDER BY kind, node"""
    )
    return "".join(parts)


@register("hits_hubs_authorities", _hits_oracle(2))
def hits_hubs_authorities_q(spark, sf_dir):
    """Kleinberg HITS over the bipartite customer–part purchase graph
    (hubs = customers, authorities = parts), two fixed iterations with
    integer half-up L1-ppm normalization — the mutually-reinforcing
    importance complement to PageRank's random-walk score.  Per
    iteration two equi-joins + two aggregates; L1 totals are one-row
    broadcasts; oracle is the unrolled-CTE twin."""
    from ..ops.graph import hits

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # tagged-bigint node ids through the per-iteration joins; the
    # score arithmetic is representation-independent, decode at output
    TAG = _NODE_TAG_SHIFT
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        _tag_node(1, "o_custkey").alias("c"),
        _tag_node(3, "l_partkey").alias("p"),
    )
    h = hits(edges, iters=2)
    return h.select(
        F.concat(
            F.when(F.expr(f"node DIV {TAG}") == 1, F.lit("c:")).otherwise(F.lit("p:")),
            (F.col("node") % TAG).cast("string"),
        ).alias("node"),
        "kind",
        "score_ppm",
    ).orderBy("kind", "node")


# ------------------------------------------------------------------ RFM segmentation
@register(
    "customer_rfm_segments",
    """
    WITH mx AS (SELECT max(epoch_us(o_orderdate) // 86400000000) d1 FROM orders),
    rfm AS (SELECT o_custkey,
                   CAST(d1 - max(epoch_us(o_orderdate) // 86400000000) AS BIGINT) recency_days,
                   CAST(count(*) AS BIGINT) frequency,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     monetary_cents
            FROM orders CROSS JOIN mx GROUP BY o_custkey, d1),
    binned AS (SELECT *,
                      ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) r_bin,
                      ntile(4) OVER (ORDER BY frequency DESC, o_custkey) f_bin,
                      ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey) m_bin
               FROM rfm)
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           CAST(r_bin AS INT) r_bin, CAST(f_bin AS INT) f_bin,
           CAST(m_bin AS INT) m_bin,
           CAST(r_bin * 100 + f_bin * 10 + m_bin AS INT) rfm_code
    FROM binned ORDER BY o_custkey
    """,
)
def customer_rfm_segments_q(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary),
    the classic lifecycle-marketing rollup: per customer the three
    metrics in exact integer units (epoch days, counts, cents) and
    their ntile(4) bins under fully-deterministic total orders
    (metric, custkey) — bin 1 = best on every axis.  One aggregate +
    three DISTRIBUTED quartile passes (ops/profile.py::ntile_global —
    range-partitioned rank + integer SQL-standard split, no
    unpartitioned window even though the frame is dimension-sized:
    customers scale 100× too)."""
    from ..ops.profile import ntile_global
    o = _t(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) DIV 86400000000")
    mx = o.agg(F.max(day).alias("d1"))
    rfm = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "d1")
        .agg(
            (F.col("d1") - F.max(day)).cast("bigint").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "monetary_cents"
            ),
        )
    )
    # materialize the dimension-sized RFM frame once (the three chained
    # ntile passes would otherwise re-run the fact aggregate), count it
    # once, and feed the count to all three passes as a literal — the
    # plan stays linear: three range exchanges, no broadcast subtrees
    rfm = ckpt.checkpoint(rfm)
    n_cust = rfm.count()
    binned = ntile_global(
        rfm, [F.col("recency_days").asc(), F.col("o_custkey")], 4, "r_bin", n_cust
    )
    binned = ntile_global(
        binned, [F.col("frequency").desc(), F.col("o_custkey")], 4, "f_bin", n_cust
    )
    binned = ntile_global(
        binned,
        [F.col("monetary_cents").desc(), F.col("o_custkey")],
        4,
        "m_bin",
        n_cust,
    )
    return binned.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_bin",
        "f_bin",
        "m_bin",
        (F.col("r_bin") * 100 + F.col("f_bin") * 10 + F.col("m_bin"))
        .cast("int")
        .alias("rfm_code"),
    ).orderBy("o_custkey")


# ------------------------------------------------------------------ chi-square independence
@register(
    "event_hour_chi2",
    """
    WITH b AS (SELECT event_type t, (epoch_us(ts) // 3600000000) % 24 h FROM events),
    o AS (SELECT t, h, CAST(count(*) AS HUGEINT) o FROM b GROUP BY t, h),
    rt AS (SELECT t, CAST(count(*) AS HUGEINT) r FROM b GROUP BY t),
    ct AS (SELECT h, CAST(count(*) AS HUGEINT) c FROM b GROUP BY h),
    n AS (SELECT CAST(count(*) AS HUGEINT) n FROM b),
    cells AS (
      SELECT o.t, o.h,
             (2000000000 * (o.o * n.n - rt.r * ct.c) * (o.o * n.n - rt.r * ct.c)
              + n.n * rt.r * ct.c) // (2 * n.n * rt.r * ct.c) contrib_nano
      FROM o JOIN rt USING (t) JOIN ct USING (h) CROSS JOIN n)
    SELECT CAST(count(*) AS BIGINT) n_cells,
           CAST((SELECT count(*) FROM rt) AS BIGINT) n_rows,
           CAST((SELECT count(*) FROM ct) AS BIGINT) n_cols,
           CAST(((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1)
                AS BIGINT) dof,
           CAST(sum(contrib_nano) AS BIGINT) chi2_nano
    FROM cells
    """,
)
def event_hour_chi2_q(spark, sf_dir):
    """Pearson chi-square independence test of event type × hour of
    day — the contingency-table screen for temporal usage patterns.
    Per-cell contribution ``(o·N − r·c)² / (N·r·c)`` is computed as an
    integer half-up NANO ratio in decimal(38)/int128, so the statistic
    is a shuffle-order-free exact bigint (lesson (i) generalized to a
    ratio-of-products).  Three tiny aggregates + a cells join; the
    observed table only materializes |types|·|hours| rows."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        F.col("event_type").alias("t"),
        (F.expr("unix_micros(ts) DIV 3600000000") % 24).alias("h"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    o = b.groupBy("t", "h").agg(dec(F.count(F.lit(1))).alias("o"))
    rt = b.groupBy("t").agg(dec(F.count(F.lit(1))).alias("r"))
    ct = b.groupBy("h").agg(dec(F.count(F.lit(1))).alias("c"))
    n = b.agg(dec(F.count(F.lit(1))).alias("n"))
    cells = (
        o.join(F.broadcast(rt), "t")
        .join(F.broadcast(ct), "h")
        .crossJoin(F.broadcast(n))
        .withColumn("_dev", F.col("o") * F.col("n") - F.col("r") * F.col("c"))
        .withColumn("_den", F.col("n") * F.col("r") * F.col("c"))
        .withColumn(
            "contrib_nano",
            # overflow fails LOUDLY (non-ANSI decimal overflow yields
            # NULL, which would silently zero the cell in the sum):
            # 2e9·dev² + den needs |dev| ≤ 1.58e14 and den < 5e37
            F.when(
                F.col("_dev").isNull()
                | F.col("_den").isNull()
                | (F.abs(F.col("_dev")) > F.lit(158_113_883_008_418).cast("decimal(38,0)"))
                | (F.col("_den") > F.expr("CAST('49999999999999999999999999999999999999' AS DECIMAL(38,0))")),
                F.expr(
                    "raise_error('event_hour_chi2: decimal(38) envelope exceeded"
                    " - contingency counts too large for the nano lane')"
                ).cast("decimal(38,0)"),
            ).otherwise(F.expr("(2000000000 * _dev * _dev + _den) div (2 * _den)")),
        )
    )
    nr = rt.count()
    nc = ct.count()
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.lit(nr).cast("bigint").alias("n_rows"),
        F.lit(nc).cast("bigint").alias("n_cols"),
        F.lit((nr - 1) * (nc - 1)).cast("bigint").alias("dof"),
        F.sum("contrib_nano").cast("bigint").alias("chi2_nano"),
    )


# ------------------------------------------------------------------ bloom semi-join pushdown
@register(
    "bloom_semijoin_pushdown",
    """
    WITH hashes AS (SELECT unnest([0,1,2,3]) AS i),
    dim AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) k FROM orders
            WHERE o_orderpriority = '1-URGENT'),
    hpos AS (SELECT (('0x' || substr(md5(i::VARCHAR || ':' || k), 1, 15))::BIGINT
                     % 32768) p
             FROM dim CROSS JOIN hashes),
    words AS (SELECT (p // 32)::INT w, bit_or(1::BIGINT << (p % 32)::INT) word
              FROM hpos GROUP BY 1),
    fact AS (SELECT l_orderkey, CAST(l_orderkey AS VARCHAR) k FROM lineitem),
    -- hit is a function of the KEY: probe distinct keys, join back to
    -- rows (lineitem has several lines per order — grouping rows by
    -- key would collapse the fact multiplicity)
    fk AS (SELECT DISTINCT k FROM fact),
    fpos AS (SELECT k,
                    (('0x' || substr(md5(i::VARCHAR || ':' || k), 1, 15))::BIGINT
                     % 32768) p
             FROM fk CROSS JOIN hashes),
    chk AS (SELECT k,
                   bool_and(coalesce(((w.word >> (f.p % 32)::INT) & 1) = 1, false)) hit
            FROM fpos f LEFT JOIN words w ON (f.p // 32)::INT = w.w
            GROUP BY k),
    truth AS (SELECT fact.l_orderkey, c.hit, (d.k IS NOT NULL) tru
              FROM fact JOIN chk c USING (k) LEFT JOIN dim d ON fact.k = d.k)
    SELECT CAST(count(*) AS BIGINT) n_fact,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) n_bloom_pass,
           CAST(sum(CASE WHEN tru THEN 1 ELSE 0 END) AS BIGINT) n_true,
           CAST(sum(CASE WHEN hit AND NOT tru THEN 1 ELSE 0 END) AS BIGINT) false_pos,
           CAST(round((1000000.0 * sum(CASE WHEN hit AND NOT tru THEN 1 ELSE 0 END))
                      / (count(*) - sum(CASE WHEN tru THEN 1 ELSE 0 END))) AS BIGINT)
             fp_ppm
    FROM truth
    """,
)
def bloom_semijoin_pushdown_q(spark, sf_dir):
    """Bloom semi-join pushdown audit — the runtime-filter pattern
    engines use to prune a fact scan before the shuffle join: fold the
    urgent-order keys into a 32k-bit Bloom (md5 twin, engine-exact),
    probe every lineitem row MAP-SIDE, and measure what the filter
    saves (rows passed, true matches, false-positive ppm).  The exact
    semi-join then only sees the Bloom-hit sliver — at 100 TB that is
    the difference between shuffling the whole fact table and
    shuffling the matching fraction (+fp)."""
    from ..ops.bloom import bloom_build, bloom_ingest_gate

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").cast("string").alias("k"))
        .distinct()
    )
    bloom = bloom_build(dim, "k", m_bits=1 << 15, hash_fn="md5")
    fact = li.select(
        "l_orderkey", F.col("l_orderkey").cast("string").alias("fingerprint")
    )
    gated = bloom_ingest_gate(fact, bloom, m_bits=1 << 15, hash_fn="md5")
    truth = gated.join(
        dim.withColumnRenamed("k", "fingerprint").withColumn("_t", F.lit(1)),
        "fingerprint",
        "left",
    ).select(
        F.col("maybe_dup").alias("hit"), F.col("_t").isNotNull().alias("tru")
    )
    return truth.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("bigint").alias("n_bloom_pass"),
        F.sum(F.when(F.col("tru"), 1).otherwise(0)).cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("hit") & ~F.col("tru"), 1).otherwise(0))
        .cast("bigint")
        .alias("false_pos"),
        F.round(
            1_000_000.0
            * F.sum(F.when(F.col("hit") & ~F.col("tru"), 1).otherwise(0))
            / (
                F.count(F.lit(1))
                - F.sum(F.when(F.col("tru"), 1).otherwise(0))
            )
        )
        .cast("bigint")
        .alias("fp_ppm"),
    )


# ------------------------------------------------------------------ windowed funnel
@register(
    "funnel_conversion_windowed",
    """
    WITH s1 AS (SELECT user_id, min({'t': ts, 'i': event_id}) r
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min({'t': e.ts, 'i': e.event_id}) r
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'view' AND {'t': e.ts, 'i': e.event_id} > s1.r
             AND epoch_us(e.ts) <= epoch_us(struct_extract(s1.r, 't')) + 21600000000
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min({'t': e.ts, 'i': e.event_id}) r
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'click' AND {'t': e.ts, 'i': e.event_id} > s2.r
             AND epoch_us(e.ts) <= epoch_us(struct_extract(s2.r, 't')) + 21600000000
           GROUP BY e.user_id),
    c AS (SELECT (SELECT count(*) FROM s1) n1, (SELECT count(*) FROM s2) n2,
                 (SELECT count(*) FROM s3) n3)
    SELECT 1 step, 'signup' event_type, n1 n_users, (2000000*n1 + n1) // (2*n1) conv_ppm FROM c
    UNION ALL SELECT 2, 'view', n2, (2000000*n2 + n1) // (2*n1) FROM c
    UNION ALL SELECT 3, 'click', n3, (2000000*n3 + n1) // (2*n1) FROM c
    ORDER BY step
    """,
)
def funnel_conversion_windowed_q(spark, sf_dir):
    """Windowed funnel (the ClickHouse-windowFunnel family, per-step
    gap form): each step must land within 6 h of the previous step's
    completion — time-bounded conversion, the funnel variant marketing
    actually asks for.  Same k chained per-user struct-min aggregates;
    the gap test is pure epoch-µs integer arithmetic."""
    from ..ops.behavior import funnel_steps

    ev = _t(spark, sf_dir, "events")
    return funnel_steps(
        ev, ["signup", "view", "click"], step_within_us=21_600_000_000
    ).orderBy("step")


# ------------------------------------------------------------------ personalized PageRank
def _ppr_oracle(sources: list[str], iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled personalized-PageRank twin of ``_pagerank_oracle`` —
    teleport mass restricted to the source set."""
    tele = (1.0 - damping) * 1e6
    n_src = float(len(sources))
    in_src = "node IN (" + ", ".join(f"'{s}'" for s in sources) + ")"
    parts = [
        """WITH edges AS (
      SELECT concat('c:', CAST(o_custkey AS VARCHAR)) head,
             concat('o:', CAST(o_orderkey AS VARCHAR)) tail FROM orders
      UNION ALL
      SELECT concat('o:', CAST(l_orderkey AS VARCHAR)),
             concat('p:', CAST(l_partkey AS VARCHAR)) FROM lineitem),
    nodes AS (SELECT head AS node FROM edges UNION SELECT tail FROM edges),
    outdeg AS (SELECT head, count(*) outdeg FROM edges GROUP BY head),
    r0 AS (SELECT node,
                  CASE WHEN {in_src}
                       THEN CAST(round(1e6 / {n}) AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END rank_micro
           FROM nodes)""".format(in_src=in_src, n=n_src)
    ]
    for i in range(iters):
        parts.append(
            f""",
    r{i + 1} AS (
      SELECT nodes.node,
             CASE WHEN {in_src.replace("node", "nodes.node")}
                  THEN CAST(round({tele!r} / {n_src!r}) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END
             + CAST(round({damping!r} * coalesce(s.s, 0)) AS BIGINT) AS rank_micro
      FROM nodes
      LEFT JOIN (SELECT e.tail node,
                        CAST(sum(r{i}.rank_micro // od.outdeg) AS BIGINT) s
                 FROM edges e
                 JOIN r{i} ON e.head = r{i}.node
                 JOIN outdeg od ON e.head = od.head
                 GROUP BY e.tail) s ON nodes.node = s.node)"""
        )
    parts.append(
        f"""
    SELECT node, rank_micro, round(rank_micro / 1e6, 6) AS rank
    FROM r{iters} WHERE rank_micro > 0 ORDER BY node"""
    )
    return "".join(parts)


@register("personalized_pagerank", _ppr_oracle(["c:1", "c:2", "c:3"]))
def personalized_pagerank_q(spark, sf_dir):
    """Personalized PageRank (random walk with restart) seeded at
    three customers over the customer–order–part graph: proximity-to-
    seed ranking, the standard seed-expansion primitive for growing a
    match set from a handful of known links.  Same integer micro-unit
    power iteration and unrolled oracle as global PageRank, with
    teleport mass restricted to the seeds; only positively-ranked
    (reachable) nodes are returned.

    Node ids ride the iterative shuffles as tagged BIGINTS and decode
    to the oracle's "c:/o:/p:" strings only in the final projection —
    the ``pagerank_importance`` scheme; the rank arithmetic is
    representation-independent, so the oracle keeps string nodes."""
    from ..ops.graph import pagerank
    from .events import _NODE_TAG_SHIFT, _tag_node

    TAG = _NODE_TAG_SHIFT
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = o.select(
        _tag_node(1, "o_custkey").alias("head"),
        _tag_node(2, "o_orderkey").alias("tail"),
    ).unionAll(
        li.select(
            _tag_node(2, "l_orderkey").alias("head"),
            _tag_node(3, "l_partkey").alias("tail"),
        )
    )
    # outdeg_shape pinned for the same reason as pagerank_importance:
    # TPC-H FK fan-out bounds max out-degree far under the window-form
    # skew gate, so the auto probe's extra edge-lineage pass is waste
    out = pagerank(
        edges,
        sources=[1 * TAG + 1, 1 * TAG + 2, 1 * TAG + 3],
        outdeg_shape="window",
    )
    tag = F.expr(f"node DIV {TAG}")
    return (
        out.where(F.col("rank_micro") > 0)
        .select(
            F.concat(
                F.when(tag == 1, F.lit("c:"))
                .when(tag == 2, F.lit("o:"))
                .otherwise(F.lit("p:")),
                (F.col("node") % TAG).cast("string"),
            ).alias("node"),
            "rank_micro",
            "rank",
        )
        .orderBy("node")
    )


# ------------------------------------------------------------------ ANN recall audit
@register(
    "ann_recall_audit",
    f"""
    WITH iv AS (SELECT query_id, neighbor_id FROM ({_IVF_MD5_ORACLE}) t),
    exx AS (SELECT query_id, neighbor_id FROM ({{knn}}) t),
    hit AS (SELECT e.query_id, CAST(count(*) AS BIGINT) h
            FROM exx e JOIN iv USING (query_id, neighbor_id)
            GROUP BY e.query_id),
    qs AS (SELECT DISTINCT query_id FROM exx)
    SELECT qs.query_id, coalesce(h.h, 0) n_hits,
           coalesce(h.h, 0) * 100000 recall_ppm
    FROM qs LEFT JOIN hit h USING (query_id)
    ORDER BY query_id
    """.replace("{knn}", _KNN_ORACLE),
)
def ann_recall_audit_q(spark, sf_dir):
    """Measure, don't guess: per-query recall@10 of the IVF
    (hash-sample quantizer, 4/16 probes) against exact brute force —
    the approximation-quality audit that decides probe counts before
    trusting an ANN path at scale.  Both sides are deterministic, so
    the audit itself is exact-oracled; recall_ppm = hits · 1e5 (pure
    integer)."""
    from ..ops.similarity import ann_topk_ivf, brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 10 == 0)
    ivf = ann_topk_ivf(q, emb, k=10, quantizer="hash_sample").select(
        "query_id", "neighbor_id"
    )
    ex = brute_force_topk(q, emb, k=10).select("query_id", "neighbor_id")
    hits = ex.join(ivf, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("h")
    )
    return (
        ex.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("h", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("h", F.lit(0)) * 100_000).cast("bigint").alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


# ------------------------------------------------------------------ global two-phase skyline
@register(
    "global_pareto_frontier",
    """
    WITH b AS (SELECT o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) price_cents,
                      epoch_us(o_orderdate) // 86400000000 day_idx
               FROM orders),
    w AS (SELECT *, min(day_idx) OVER (
            ORDER BY price_cents DESC, day_idx ASC, o_orderkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pm
          FROM b)
    SELECT o_orderkey, price_cents, day_idx
    FROM w WHERE pm IS NULL OR pm > day_idx
    ORDER BY o_orderkey
    """,
)
def global_pareto_frontier_q(spark, sf_dir):
    """GLOBAL skyline of all orders on (max totalprice, min orderdate)
    via the two-phase distributed algorithm: local skyline per hash
    salt (parallel bulk pruning — dominance is transitive), then one
    skyline over the ~salts·log(n) survivors.  The oracle computes
    the direct single-pass skyline, proving the two-phase rewrite is
    EXACT, not approximate."""
    from ..ops.rollup import pareto_frontier_global

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        F.expr("unix_micros(cast(o_orderdate as timestamp)) DIV 86400000000").alias(
            "day_idx"
        ),
    )
    front = pareto_frontier_global(base, "price_cents", "day_idx", "o_orderkey")
    return front.select("o_orderkey", "price_cents", "day_idx").orderBy("o_orderkey")


# ------------------------------------------------------------------ time-decayed aggregate
@register(
    "time_decayed_user_value",
    """
    WITH mx AS (SELECT max(epoch_us(ts) // 86400000000) d1 FROM events),
    b AS (SELECT user_id,
                 CAST(d1 - epoch_us(ts) // 86400000000 AS INT) age,
                 CAST(round(value * 1000000) AS BIGINT) micro
          FROM events CROSS JOIN mx)
    SELECT user_id,
           CAST(sum(CASE WHEN age <= 20
                         THEN micro * (CAST(1 AS BIGINT) << (20 - age))
                         ELSE 0 END) AS BIGINT) decayed_scaled,
           CAST(sum(micro) AS BIGINT) raw_micro,
           count(*) n_events
    FROM b GROUP BY user_id ORDER BY user_id
    """,
)
def time_decayed_user_value_q(spark, sf_dir):
    """Exponentially time-decayed per-user value with half-life = 1
    day, kept EXACT by choosing decay base 2 and integer scaling:
    weight(age) = 2^(20-age) (ages past 20 half-lives contribute < 1
    scaled unit and drop to an explicit 0), so the decayed sum is a
    pure bigint — no float accumulation, engine-identical.  Consumers
    read ``decayed = decayed_scaled / 2^20``; the 20-bit scale keeps
    micro·2^20·per-user-count inside int64.  One aggregate; the
    corpus max-day anchor is a one-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) DIV 86400000000")
    mx = ev.agg(F.max(day).alias("d1"))
    b = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (F.col("d1") - day).cast("int").alias("age"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("micro"),
    )
    return (
        b.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("age") <= 20,
                    F.col("micro") * F.expr("shiftleft(cast(1 as bigint), 20 - age)"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("decayed_scaled"),
            F.sum("micro").cast("bigint").alias("raw_micro"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "source_drift_psi",
    """
    WITH b AS (SELECT source g, length(bin(length(text) + 1)) bk
               FROM documents WHERE source IN ('src0', 'src1')),
    counts AS (SELECT bk,
        CAST(sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS BIGINT) ca,
        CAST(sum(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS BIGINT) cb
      FROM b GROUP BY bk),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) na, CAST(sum(cb) AS BIGINT) nb,
                   count(*) nbk
            FROM counts),
    terms AS (SELECT na, nb, nbk,
        CAST(round(((ca + 1.0) / (na + nbk) - (cb + 1.0) / (nb + nbk))
                   * ln(((ca + 1.0) / (na + nbk))
                        / ((cb + 1.0) / (nb + nbk))) * 1e9) AS BIGINT) t
      FROM counts CROSS JOIN tot)
    SELECT na AS n_a, nb AS n_b, CAST(nbk AS BIGINT) AS n_buckets,
           CAST(sum(t) AS BIGINT) AS psi_nano,
           round(CAST(sum(t) AS BIGINT) / 1e9, 6) AS psi
    FROM terms GROUP BY na, nb, nbk
    """,
)
def source_drift_psi_q(spark, sf_dir):
    """Snapshot/source drift monitor: Population Stability Index
    between two sources' doc-length distributions.  Buckets are the
    BIT LENGTH of (char_length + 1) — an exact integer power-of-2
    bucketing (string length of the base-2 representation), immune to
    the floor(log2(x)) boundary hazard a float log would carry across
    engines.  Laplace-smoothed shares, per-bucket nano-nat rounding
    before the order-free bigint sum (the js_divergence lane)."""
    from ..ops.profile import psi_drift

    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.length(F.conv((F.length("text") + 1).cast("string"), 10, 2))
    )
    return psi_drift(docs, "source", "src0", "src1", "len_bucket")


@register(
    "classifier_agreement_kappa",
    """
    WITH lab AS (SELECT (length(text) >= 300) la,
        (len(list_filter(string_split(text, ' '), x -> x <> '')) >= 60) lb
      FROM documents),
    ct AS (SELECT CAST(count(*) AS BIGINT) n,
        CAST(sum(CASE WHEN la AND lb THEN 1 ELSE 0 END) AS BIGINT) bp,
        CAST(sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) ao,
        CAST(sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END) AS BIGINT) bo,
        CAST(sum(CASE WHEN NOT la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) bn
      FROM lab)
    SELECT n AS n_docs, bp AS both_pos, ao AS a_only, bo AS b_only,
           bn AS both_neg,
           CAST(round(CASE WHEN n * n = (bp + ao) * (bp + bo)
                                        + (bo + bn) * (ao + bn) THEN 0.0
                ELSE 1e9 * (n * (bp + bn)
                            - ((bp + ao) * (bp + bo) + (bo + bn) * (ao + bn)))
                     / (n * n - ((bp + ao) * (bp + bo) + (bo + bn) * (ao + bn)))
                END) AS BIGINT) AS kappa_nano,
           round(CAST(round(CASE WHEN n * n = (bp + ao) * (bp + bo)
                                              + (bo + bn) * (ao + bn) THEN 0.0
                ELSE 1e9 * (n * (bp + bn)
                            - ((bp + ao) * (bp + bo) + (bo + bn) * (ao + bn)))
                     / (n * n - ((bp + ao) * (bp + bo) + (bo + bn) * (ao + bn)))
                END) AS BIGINT) / 1e9, 6) AS kappa
    FROM ct
    """,
)
def classifier_agreement_kappa_q(spark, sf_dir):
    """Cohen's kappa between two deterministic quality heuristics
    (char-length >= 300 vs whitespace-token-count >= 60) — the
    inter-rater agreement audit run before trusting a cheap filter to
    stand in for an expensive one.  ONE conditional-sum aggregate
    builds the 2x2 contingency; kappa = (po - pe) / (1 - pe) computed
    from exact bigint cell products, nano-rounded once (single row, so
    the one double division is engine-exact); a degenerate pe = 1
    table reports kappa 0 instead of dividing by zero."""
    docs = _t(spark, sf_dir, "documents")
    la = F.length("text") >= 300
    lb = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")) >= 60
    ct = docs.select(la.alias("la"), lb.alias("lb")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("la") & F.col("lb"), 1).otherwise(0)).cast("bigint").alias("bp"),
        F.sum(F.when(F.col("la") & ~F.col("lb"), 1).otherwise(0)).cast("bigint").alias("ao"),
        F.sum(F.when(~F.col("la") & F.col("lb"), 1).otherwise(0)).cast("bigint").alias("bo"),
        F.sum(F.when(~F.col("la") & ~F.col("lb"), 1).otherwise(0)).cast("bigint").alias("bn"),
    )
    pe_num = (F.col("bp") + F.col("ao")) * (F.col("bp") + F.col("bo")) + (
        F.col("bo") + F.col("bn")
    ) * (F.col("ao") + F.col("bn"))
    den = F.col("n") * F.col("n") - pe_num
    num = F.col("n") * (F.col("bp") + F.col("bn")) - pe_num
    kappa_nano = F.round(
        F.when(den == 0, F.lit(0.0)).otherwise(F.lit(1e9) * num / den)
    ).cast("bigint")
    return ct.select(
        F.col("n").alias("n_docs"),
        F.col("bp").alias("both_pos"),
        F.col("ao").alias("a_only"),
        F.col("bo").alias("b_only"),
        F.col("bn").alias("both_neg"),
        kappa_nano.alias("kappa_nano"),
        F.round(kappa_nano / 1e9, 6).alias("kappa"),
    )


@register(
    "benford_audit",
    """
    WITH cents AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) c
                   FROM orders WHERE o_totalprice > 0),
    fd AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) d
           FROM cents),
    counts AS (SELECT d, CAST(count(*) AS BIGINT) cnt FROM fd GROUP BY d),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) n FROM counts)
    SELECT d AS digit, cnt,
           CAST(round(cnt * 1e6 / n) AS BIGINT) AS share_ppm,
           CAST(round(1e6 * ln(1.0 + 1.0 / d) / ln(10.0)) AS BIGINT)
             AS benford_ppm,
           CAST(CAST(round(cnt * 1e6 / n) AS BIGINT)
                - CAST(round(1e6 * ln(1.0 + 1.0 / d) / ln(10.0)) AS BIGINT)
             AS BIGINT) AS dev_ppm
    FROM counts CROSS JOIN tot ORDER BY d
    """,
)
def benford_audit_q(spark, sf_dir):
    """First-significant-digit audit of order totals against Benford's
    law — the classic fabricated/corrupted-numeric-column screen
    (synthetic uniform data deviates loudly; organic multiplicative
    data doesn't).  Digit extraction goes through exact integer cents
    (round once, then string head — no float log10); one 9-cell
    group-by + a one-row broadcast; expected shares are
    ``round(1e6 * log10(1 + 1/d))`` so every output cell is an exact
    integer."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    fd = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = fd.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    share = F.round(F.col("cnt") * 1e6 / F.col("n")).cast("bigint")
    benford = F.round(
        F.lit(1e6) * F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    ).cast("bigint")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "cnt",
            share.alias("share_ppm"),
            benford.alias("benford_ppm"),
            (share - benford).cast("bigint").alias("dev_ppm"),
        )
        .orderBy("digit")
    )


@register(
    "ivf_append_audit",
    f"""
    WITH ix AS (SELECT vec_id id, embedding v FROM embeddings),
    base AS (SELECT * FROM ix WHERE id % 5 <> 0),
    cents AS (
      SELECT row_number() OVER (ORDER BY h, id) - 1 AS cid, v AS cv
      FROM (SELECT id, v, md5(id::VARCHAR) h FROM base
            ORDER BY h, id LIMIT 16)),
    assign AS (
      SELECT id, cid FROM (
        SELECT ix.id, c.cid,
               row_number() OVER (
                 PARTITION BY ix.id
                 ORDER BY {{cos}} DESC, c.cid ASC) rn
        FROM ix CROSS JOIN cents c) WHERE rn = 1)
    SELECT CAST(cid AS INTEGER) AS centroid_id,
           CAST(sum(CASE WHEN id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_base,
           CAST(sum(CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_appended
    FROM assign GROUP BY cid ORDER BY centroid_id
    """.format(cos=_COS_SQL.format(a="ix.v", b="c.cv")),
)
def ivf_append_audit_q(spark, sf_dir):
    """Incremental-index maintenance, value-checked end-to-end: build
    the persisted IVF index from 80% of the vectors (deterministic
    hash-sample quantizer), ``ivf_index_append`` the other 20% (the
    Faiss ``add()`` regime — assign to the nearest EXISTING centroid,
    no retrain, one file-append per touched partition), then audit the
    inverted lists: per centroid, how many base vs appended vectors
    landed there.  The oracle recomputes quantizer + BOTH assignment
    waves from the base table, so the whole daily-ingest path
    (centroid reuse, probe semantics, partition append) hashes
    exact."""
    import shutil
    import tempfile

    from ..ops.similarity import build_ivf_index, ivf_index_append

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivf_append_")
    try:
        build_ivf_index(
            emb.where(F.col("vec_id") % 5 != 0), path, n_centroids=16,
            quantizer="hash_sample",
        )
        ivf_index_append(emb.where(F.col("vec_id") % 5 == 0), path)
        lists = spark.read.parquet(f"{path}/lists")
        return ckpt.checkpoint(
            lists.groupBy(F.col("centroid_id").cast("int").alias("centroid_id"))
            .agg(
                F.sum(F.when(F.col("id") % 5 != 0, 1).otherwise(0))
                .cast("bigint")
                .alias("n_base"),
                F.sum(F.when(F.col("id") % 5 == 0, 1).otherwise(0))
                .cast("bigint")
                .alias("n_appended"),
            )
            .orderBy("centroid_id")
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


#: build-vs-reuse record per bucketed catalog table, for the bench
#: artifact: a first-touch build runs inside the first consuming query.
BUCKETED_EVENTS: dict[str, str] = {}


def _ensure_bucketed_table(spark, sf_dir: str, table: str, key: str, n_buckets: int = 16):
    """Idempotently materialize ``{table}`` from ``sf_dir`` as a
    BUCKETED parquet table (bucketBy + sortBy on ``key``) registered in
    the session catalog, and return its catalog name.

    Bucketing survives on disk but the default session catalog does
    not; a fresh session re-attaches the existing files with a
    ``CREATE TABLE … CLUSTERED BY … LOCATION`` DDL instead of
    rewriting (the manifest marks build completion, the staleness
    fingerprint a source regen).  This is the at-scale pattern for
    repeated fact-fact joins: pay the layout shuffle ONCE at write
    time, then every co-located join on ``key`` plans with zero
    exchanges on either side."""
    import os

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")
    name = f"{table}_bkt_{sf_tag}"
    if spark.catalog.tableExists(name):
        BUCKETED_EVENTS.setdefault(name, "reused-catalog")
        return name
    src_path = os.path.join(sf_dir, f"{table}.parquet")
    path = _derived_path(f"bkt_{table}_{sf_tag}")
    src = spark.read.parquet(src_path)
    meta = dict(kind="bucketed", key=key, n_buckets=n_buckets)
    if _index_current(path, src_path, **meta):
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema)
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET"
            f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS"
            f" LOCATION '{path}'"
        )
        BUCKETED_EVENTS[name] = "attached-existing-files"
        return name
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        src.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    )
    _write_index_manifest(path, src_path, **meta)
    BUCKETED_EVENTS[name] = "built-first-touch"
    return name


@register(
    "bucketed_join_revenue",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def bucketed_join_revenue_q(spark, sf_dir):
    """Co-located fact-fact join via BUCKETED tables: orders and
    lineitem are materialized once as 16-bucket parquet (bucketBy +
    sortBy on the order key), after which the join reads both sides
    pre-partitioned — the physical plan carries NO exchange under the
    SortMergeJoin (asserted in tests/test_plans.py); only the tiny
    5-row priority rollup shuffles.  At 100 TB this converts every
    repeated orders⋈lineitem from a full two-sided shuffle into a
    map-side merge — the bucketing pattern the engine's layout ops
    exist to serve.  Revenue in exact integer cents (round half-up in
    both engines)."""
    o = _ensure_bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    li = _ensure_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    ot, lt = spark.table(o), spark.table(li)
    j = ot.join(lt, ot["o_orderkey"] == lt["l_orderkey"])
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "curation_funnel",
    """
    WITH q AS (
      SELECT doc_id, text, len(string_split(text, ' ')) n,
             round((len(list_distinct(string_split(text, ' '))) * 1.0
                    / len(string_split(text, ' ')))
                   * (1.0 - abs(len(list_filter(string_split(text, ' '),
                                     x -> list_contains([{stop}], x))) * 1.0
                                / len(string_split(text, ' ')) - 0.4))
                   * least(len(string_split(text, ' ')) / 100.0, 1.0), 6)
               >= 0.2 AS q_pass
      FROM documents),
    f AS (
      SELECT n, q_pass,
             q_pass AND doc_id = min(CASE WHEN q_pass THEN doc_id END)
                          OVER (PARTITION BY md5(text)) AS surv
      FROM q),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) r_docs, CAST(sum(n) AS BIGINT) r_toks,
             CAST(sum(CASE WHEN q_pass THEN 1 ELSE 0 END) AS BIGINT) q_docs,
             CAST(sum(CASE WHEN q_pass THEN n ELSE 0 END) AS BIGINT) q_toks,
             CAST(sum(CASE WHEN surv THEN 1 ELSE 0 END) AS BIGINT) s_docs,
             CAST(sum(CASE WHEN surv THEN n ELSE 0 END) AS BIGINT) s_toks
      FROM f)
    SELECT * FROM (
      SELECT 1 stage_no, 'raw' stage, r_docs AS n_docs, r_toks AS total_tokens
      FROM agg
      UNION ALL
      SELECT 2, 'quality_pass', q_docs, q_toks FROM agg
      UNION ALL
      SELECT 3, 'exact_dedup_survivor', s_docs, s_toks FROM agg)
    ORDER BY stage_no
    """.format(stop=_STOP_SQL),
)
def curation_funnel_q(spark, sf_dir):
    """Pipeline observability: per-stage survival of the flagship
    curation flow (raw → quality ≥ 0.2 → exact-dedup survivor), doc
    AND token counts per stage — the funnel table a 100 TB curation
    run publishes so 'how much data did we lose where' is a query,
    not a log grep.  ONE corpus scan: per-doc flags, a single
    md5-partitioned window for the survivor bit, one aggregate, then a
    3-row unpivot.  Survivorship = lowest doc_id among the
    quality-passing copies of identical text (the corpus_clean_pipeline
    rule), so stage 3 ⊆ stage 2 ⊆ stage 1 by construction."""
    from pyspark.sql import Window

    from ..ops.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "n_tokens", "score")
    flags = (
        docs.select("doc_id", "text")
        .join(q, "doc_id")
        .withColumn("q_pass", F.col("score") >= 0.2)
        .withColumn("_h", F.md5("text"))
    )
    w = Window.partitionBy("_h")
    flags = flags.withColumn(
        "surv",
        F.col("q_pass")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("q_pass"), F.col("doc_id"))).over(w)
        ),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("r_docs"),
        F.sum("n_tokens").cast("bigint").alias("r_toks"),
        F.sum(F.when(F.col("q_pass"), 1).otherwise(0)).cast("bigint").alias("q_docs"),
        F.sum(F.when(F.col("q_pass"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("q_toks"),
        F.sum(F.when(F.col("surv"), 1).otherwise(0)).cast("bigint").alias("s_docs"),
        F.sum(F.when(F.col("surv"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("s_toks"),
    )
    return agg.selectExpr(
        "stack(3, 1, 'raw', r_docs, r_toks,"
        " 2, 'quality_pass', q_docs, q_toks,"
        " 3, 'exact_dedup_survivor', s_docs, s_toks)"
        " AS (stage_no, stage, n_docs, total_tokens)"
    ).orderBy("stage_no")


@register(
    "lsh_parameter_plan",
    """
    WITH b AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) bands),
    g AS (SELECT bands, 64 // bands AS rows_per_band FROM b),
    t AS (SELECT unnest(generate_series(1, 9)) j),
    grid AS (SELECT bands, rows_per_band, j * 10 AS jaccard_pct,
                    j / 10.0 AS jac
             FROM g CROSS JOIN t)
    SELECT bands, rows_per_band, jaccard_pct,
           CAST(round((1.0 - pow(1.0 - pow(jac, rows_per_band), bands)) * 1e6)
             AS BIGINT) AS collision_prob_micro,
           CAST(round(pow(1.0 / bands, 1.0 / rows_per_band) * 1e6) AS BIGINT)
             AS approx_threshold_micro
    FROM grid ORDER BY bands, jaccard_pct
    """,
)
def lsh_parameter_plan_q(spark, sf_dir):
    """MinHash-LSH banding planner: for every (bands, rows) split of a
    64-permutation signature, the collision probability
    ``1 - (1 - t^r)^b`` on a Jaccard grid plus the rule-of-thumb
    threshold ``(1/b)^(1/r)`` — the tuning table consulted before
    committing a 100 TB near-dup pass to a banding scheme (the same
    math ops/dedup.py::minhash_lsh_dedup implements).  Pure literal
    grid (63 rows), no table scan — deterministic closed-form doubles
    micro-rounded once per cell."""
    b = spark.createDataFrame([(x,) for x in (1, 2, 4, 8, 16, 32, 64)], "bands int")
    g = b.withColumn("rows_per_band", (F.lit(64) / F.col("bands")).cast("int"))
    t = spark.range(1, 10).select(F.col("id").cast("int").alias("j"))
    grid = g.crossJoin(t).select(
        "bands",
        "rows_per_band",
        (F.col("j") * 10).alias("jaccard_pct"),
        (F.col("j") / 10.0).alias("jac"),
    )
    prob = (
        F.lit(1.0)
        - F.pow(F.lit(1.0) - F.pow(F.col("jac"), F.col("rows_per_band")), F.col("bands"))
    )
    thresh = F.pow(F.lit(1.0) / F.col("bands"), F.lit(1.0) / F.col("rows_per_band"))
    return grid.select(
        "bands",
        "rows_per_band",
        "jaccard_pct",
        F.round(prob * 1e6).cast("bigint").alias("collision_prob_micro"),
        F.round(thresh * 1e6).cast("bigint").alias("approx_threshold_micro"),
    ).orderBy("bands", "jaccard_pct")


@register(
    "embedding_health_audit",
    f"""
    WITH e AS (SELECT vec_id, embedding v FROM embeddings),
    dims AS (SELECT len(v) d, count(*) c FROM e WHERE v IS NOT NULL
             GROUP BY len(v)),
    mode_d AS (SELECT d FROM dims ORDER BY c DESC, d LIMIT 1),
    per AS (
      SELECT vec_id,
             v IS NULL OR len(v) = 0 AS is_null,
             v IS NOT NULL AND len(v) > 0
               AND len(v) <> (SELECT d FROM mode_d) AS wrong_dim,
             CASE WHEN v IS NOT NULL AND len(v) > 0
                  THEN sqrt(list_sum(list_transform(v,
                         x -> x::DOUBLE * x::DOUBLE))) END nrm
      FROM e)
    SELECT CAST(count(*) AS BIGINT) n_vecs,
           CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_or_empty,
           CAST(sum(CASE WHEN wrong_dim THEN 1 ELSE 0 END) AS BIGINT)
             AS n_wrong_dim,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_norm,
           CAST(sum(CASE WHEN isnan(nrm) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nan_norm,
           CAST((SELECT d FROM mode_d) AS BIGINT) AS dim_mode,
           CAST(sum(CASE WHEN nrm IS NOT NULL AND NOT isnan(nrm)
                         THEN CAST(round(nrm * 1e6) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS norm_micro_sum
    FROM per
    """,
)
def embedding_health_audit_q(spark, sf_dir):
    """Embedding-column QA gate: null/empty vectors, dimension
    outliers vs the modal dimension, zero norms, NaN norms, and the
    micro-rounded norm mass — the pre-flight audit before pointing an
    ANN build or SemDeDup pass at 10¹¹ vectors.  Per-vector norms
    micro-round to bigints BEFORE the sum (order-free, engine-exact);
    the modal dimension is one tiny aggregate broadcast back."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    dims = (
        e.where(F.col("v").isNotNull())
        .groupBy(F.size("v").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "d")
        .limit(1)
        .select(F.col("d").alias("dim_mode"))
    )
    nrm = F.sqrt(
        F.aggregate(
            F.col("v"), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    per = e.crossJoin(F.broadcast(dims)).select(
        "vec_id",
        "dim_mode",
        (F.col("v").isNull() | (F.size("v") == 0)).alias("is_null"),
        (
            F.col("v").isNotNull()
            & (F.size("v") > 0)
            & (F.size("v") != F.col("dim_mode"))
        ).alias("wrong_dim"),
        F.when(F.col("v").isNotNull() & (F.size("v") > 0), nrm).alias("nrm"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("is_null"), 1).otherwise(0)).cast("bigint").alias("n_null_or_empty"),
        F.sum(F.when(F.col("wrong_dim"), 1).otherwise(0)).cast("bigint").alias("n_wrong_dim"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0)).cast("bigint").alias("n_zero_norm"),
        F.sum(F.when(F.isnan("nrm"), 1).otherwise(0)).cast("bigint").alias("n_nan_norm"),
        F.max("dim_mode").cast("bigint").alias("dim_mode"),
        F.sum(
            F.when(
                F.col("nrm").isNotNull() & ~F.isnan("nrm"),
                F.round(F.col("nrm") * 1e6).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("norm_micro_sum"),
    )


