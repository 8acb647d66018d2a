"""Query registrations: audits family (split from the original single-file registry; registration order preserved by package import order in __init__)."""
from __future__ import annotations
from .. import ckpt
from ._core import F, ORACLES, Window, _shingle_cte, _t, minhash_lsh_dedup, quality_score, register, tokenize

# ------------------------------------------------------------------ OLAP: grouping sets / cube
@register(
    "revenue_grouping_sets",
    """
    SELECT CAST(grouping(n_name, order_year) AS BIGINT) AS gid,
           n_name, order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM (SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
                 o_totalprice
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey) b
    GROUP BY CUBE (n_name, order_year)
    ORDER BY gid, n_name, order_year
    """,
)
def revenue_grouping_sets_q(spark, sf_dir):
    """Multi-granularity OLAP rollup in ONE pass: revenue by
    (nation, year), (nation), (year), and grand total via
    ``cube(...)`` + ``grouping_id()`` — Spark expands the cube inside
    a single Expand+partial-aggregate, so at 100 TB the fact table is
    scanned ONCE and only 4× the (tiny) group cardinality shuffles,
    vs 4 separate scans for 4 UNION'd rollups.  The nation dimension
    joins broadcast (25 rows).  Revenue in exact integer cents; gid is
    the standard MSB-first grouping bitmask (identical in DuckDB's
    ``grouping(...)``), so NULL dimension cells are unambiguous."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.year("o_orderdate").cast("int").alias("order_year"),
            "o_totalprice",
        )
    )
    return (
        base.cube("n_name", "order_year")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .select("gid", "n_name", "order_year", "n_orders", "revenue_cents")
        .orderBy("gid", "n_name", "order_year")
    )


# ------------------------------------------------------------------ layout: compaction planner
_COMPACT_TARGET_CHARS = 1 << 18  # 256 KiB of text per output file at test scale


@register(
    "compaction_plan",
    f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(greatest(1, CAST(ceil(sum(n_chars) * 1.0
                                      / {_COMPACT_TARGET_CHARS}) AS BIGINT))
                AS BIGINT) AS files_target,
           CAST(CAST(ceil(count(*) * 1.0
                          / greatest(1, CAST(ceil(sum(n_chars) * 1.0
                                                  / {_COMPACT_TARGET_CHARS})
                                             AS BIGINT)))
                     AS BIGINT) AS BIGINT) AS docs_per_file
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def compaction_plan_q(spark, sf_dir):
    """Small-file compaction planner: per ingest source, how many
    output files the corpus should be rewritten into so each file
    carries ~``_COMPACT_TARGET_CHARS`` of text (the 128 MB-parquet
    rule scaled to test data).  This is the table a 100 TB lakehouse
    maintenance job computes BEFORE calling
    ``df.repartitionByRange(files_target, ...)`` per partition — the
    plan itself is one scan + one tiny groupBy over partition stats,
    never touching the payload bytes.  All integer-exact (sizes are
    bigint sums; ceil of an exact ratio)."""
    docs = _t(spark, sf_dir, "documents")
    tgt = F.lit(_COMPACT_TARGET_CHARS)
    plan = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    files = F.greatest(
        F.lit(1).cast("bigint"),
        F.ceil(F.col("total_chars") * F.lit(1.0) / tgt).cast("bigint"),
    )
    return (
        plan.withColumn("files_target", files)
        .withColumn(
            "docs_per_file",
            F.ceil(F.col("n_docs") * F.lit(1.0) / F.col("files_target")).cast(
                "bigint"
            ),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------------ layout: shard balance audit
@register(
    "shard_balance_audit",
    """
    WITH per AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 32 AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY 1),
    tot AS (SELECT sum(n_docs) t FROM per)
    SELECT shard, n_docs, total_chars,
           CAST((n_docs * 1000000) // t AS BIGINT) AS docs_ppm
    FROM per, tot ORDER BY shard
    """,
)
def shard_balance_audit_q(spark, sf_dir):
    """Output-shard balance audit for a WebDataset-style rewrite: docs
    are assigned to 32 shards by a content-free md5 of the key (the
    assignment a 100 TB export uses so no shard needs global
    coordination), then the audit reports per-shard doc/char mass and
    each shard's parts-per-million of the corpus.  One scan + one
    32-group aggregate; the grand total joins back as a broadcast
    one-row frame (never a single-partition window).  ppm via exact
    bigint integer division."""
    docs = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 32
    ).alias("shard")
    per = docs.select(shard, "n_chars").groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    tot = per.agg(F.sum("n_docs").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("docs_ppm", F.expr("CAST(n_docs * 1000000 DIV t AS BIGINT)"))
        .drop("t")
        .orderBy("shard")
    )


# ------------------------------------------------------------------ curation: per-source ECDF calibration
@register(
    "per_source_score_ecdf",
    "WITH q AS ("
    + ORACLES["quality_score"]
    + """),
    j AS (SELECT q.doc_id, d.source, q.score
          FROM q JOIN documents d ON q.doc_id = d.doc_id),
    r AS (SELECT doc_id, source, score,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY score, doc_id) rk,
                 count(*) OVER (PARTITION BY source) n
          FROM j)
    SELECT doc_id, source, score,
           CAST(CASE WHEN n = 1 THEN 0
                     ELSE ((rk - 1) * 1000000) // (n - 1) END AS BIGINT)
             AS ecdf_ppm,
           CAST(CASE WHEN n > 1 AND ((rk - 1) * 1000000) // (n - 1) >= 800000
                     THEN 1 ELSE 0 END AS INT) AS top_quintile
    FROM r
    """,
)
def per_source_score_ecdf_q(spark, sf_dir):
    """Per-source ECDF normalization of the quality score — the
    FineWeb-style calibration step: raw quality scores are not
    comparable ACROSS sources (dumps differ in length/boilerplate
    mix), so each doc gets its quantile position WITHIN its source
    (exact rational ppm: (rank−1)·10⁶ div (n−1)) and a top-quintile
    flag the mixing stage thresholds on.  Windows are partitioned by
    source — per-source sorts, never a global one; a corpus-sized
    single source would route through the distributed
    ``ntile_global`` recipe instead (same module).  Ties broken by
    doc_id for a total order; single-doc sources pin ecdf to 0."""
    from ..ops.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "score")
    j = q.join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    wn = Window.partitionBy("source")
    r = j.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    ecdf = F.expr(
        "CASE WHEN n = 1 THEN CAST(0 AS BIGINT)"
        " ELSE CAST((rk - 1) * 1000000 DIV (n - 1) AS BIGINT) END"
    )
    return r.select(
        "doc_id",
        "source",
        "score",
        ecdf.alias("ecdf_ppm"),
        F.when((F.col("n") > 1) & (ecdf >= 800000), 1)
        .otherwise(0)
        .cast("int")
        .alias("top_quintile"),
    )


# ------------------------------------------------------------------ sketches: measured HLL accuracy
@register(
    "hll_accuracy_audit",
    "WITH hll AS ("
    + ORACLES["hll_distinct_by_source"]
    + """),
    el AS (SELECT source, unnest(string_split(lower(text), ' ')) tok
           FROM documents),
    ex AS (SELECT source, count(DISTINCT tok) exact_distinct FROM el
           GROUP BY source),
    j AS (SELECT h.source, CAST(ex.exact_distinct AS BIGINT) exact_distinct,
                 h.estimate,
                 CAST(round(abs(h.estimate - ex.exact_distinct) * 1000000.0
                            / ex.exact_distinct) AS BIGINT) abs_err_ppm
          FROM hll h JOIN ex ON h.source = ex.source)
    SELECT source, exact_distinct, estimate, abs_err_ppm,
           CAST(CASE WHEN abs_err_ppm <= 195000 THEN 1 ELSE 0 END AS INT)
             AS within_3sigma
    FROM j ORDER BY source
    """,
)
def hll_accuracy_audit_q(spark, sf_dir):
    """Sketch-trust audit: per-source HLL distinct-token estimate vs
    the exact distinct count, error in ppm, flagged against the 3σ
    envelope for m=256 registers (1.04/√256 ≈ 6.5% ⇒ 3σ = 19.5%).
    This is the table that justifies replacing exact countDistinct
    with the mergeable sketch at 100 TB: the exact lane is the one
    full shuffle you run ONCE to calibrate, the sketch lane is what
    production then runs per-slice.  Both lanes share one token scan;
    error math is a single rounded division (identical IEEE doubles
    in both engines)."""
    from ..ops.sketches import hll_distinct_by

    toks = _t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    sk = hll_distinct_by(toks, "tok", ["source"]).select("source", "estimate")
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").cast("bigint").alias("exact_distinct")
    )
    err = F.round(
        F.abs(F.col("estimate") - F.col("exact_distinct"))
        * 1000000.0
        / F.col("exact_distinct")
    ).cast("bigint")
    return (
        sk.join(exact, "source")
        .withColumn("abs_err_ppm", err)
        .select(
            "source",
            "exact_distinct",
            "estimate",
            "abs_err_ppm",
            F.when(F.col("abs_err_ppm") <= 195000, 1)
            .otherwise(0)
            .cast("int")
            .alias("within_3sigma"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------------ dedup: measured LSH quality
@register(
    "lsh_precision_recall_audit",
    "WITH pairs AS ("
    + ORACLES["minhash_dedup_md5"]
    + "),"
    + _shingle_cte()
    + """,
    sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY doc_id),
    pinter AS (
      SELECT p.doc_a, p.doc_b, count(*) i
      FROM pairs p
      JOIN ds a ON a.doc_id = p.doc_a
      JOIN ds b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b),
    cand AS (
      SELECT p.doc_a, p.doc_b, coalesce(pi.i, 0) i,
             sa.n + sb.n - coalesce(pi.i, 0) u
      FROM pairs p
      LEFT JOIN pinter pi ON pi.doc_a = p.doc_a AND pi.doc_b = p.doc_b
      JOIN sz sa ON sa.doc_id = p.doc_a
      JOIN sz sb ON sb.doc_id = p.doc_b),
    prec AS (
      SELECT CAST(count(*) AS BIGINT) n_candidates,
             CAST(sum(CASE WHEN i * 2 >= u THEN 1 ELSE 0 END) AS BIGINT)
               n_cand_true
      FROM cand),
    samp AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 3),
    sdocs AS (SELECT CAST(count(*) AS BIGINT) n_sample_docs FROM samp),
    spairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b
               FROM samp a JOIN samp b ON a.doc_id < b.doc_id),
    sinter AS (
      SELECT sp.doc_a, sp.doc_b, count(*) i
      FROM spairs sp
      JOIN ds a ON a.doc_id = sp.doc_a
      JOIN ds b ON b.doc_id = sp.doc_b AND b.shingle = a.shingle
      GROUP BY sp.doc_a, sp.doc_b),
    strue AS (
      SELECT sp.doc_a, sp.doc_b
      FROM spairs sp
      LEFT JOIN sinter si ON si.doc_a = sp.doc_a AND si.doc_b = sp.doc_b
      JOIN sz sa ON sa.doc_id = sp.doc_a
      JOIN sz sb ON sb.doc_id = sp.doc_b
      WHERE coalesce(si.i, 0) * 2 >= sa.n + sb.n - coalesce(si.i, 0)),
    rec AS (
      SELECT CAST(count(*) AS BIGINT) n_sample_true,
             CAST(coalesce(sum(CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END), 0)
                  AS BIGINT) n_caught
      FROM strue st
      LEFT JOIN pairs p ON p.doc_a = st.doc_a AND p.doc_b = st.doc_b)
    SELECT CAST(8 AS BIGINT) AS bands, CAST(4 AS BIGINT) AS rows_per_band,
           n_candidates, n_cand_true,
           CAST(CASE WHEN n_candidates = 0 THEN 1000000
                     ELSE (n_cand_true * 1000000) // n_candidates END
                AS BIGINT) AS precision_ppm,
           n_sample_docs, n_sample_true, n_caught,
           CAST(CASE WHEN n_sample_true = 0 THEN 1000000
                     ELSE (n_caught * 1000000) // n_sample_true END
                AS BIGINT) AS recall_ppm
    FROM prec, sdocs, rec
    """,
)
@ckpt.scope()
def lsh_precision_recall_audit_q(spark, sf_dir):
    """MEASURED banding quality on the actual corpus — the empirical
    companion to ``lsh_parameter_plan``'s closed-form curve: every
    (32-perm, 8-band) LSH candidate pair is verified with exact
    shingle-set Jaccard (precision at J ≥ 0.5), and recall is
    estimated on a deterministic hash-sampled doc subset whose
    all-pairs ground truth is computed exactly.  The precision lane
    scales with the CANDIDATE count (the thing LSH already bounds);
    the recall lane is quadratic only in the sample — at 100 TB the
    sample modulus is the knob that keeps sample-pairs bounded while
    the estimate stays unbiased.  Truth test in exact integers
    (2·|∩| ≥ |∪| ⇔ J ≥ 0.5); ppm via exact bigint division; degenerate
    zero denominators report 1 000 000 (nothing to catch ⇒ nothing
    missed)."""
    from ..functions.text import word_shingles
    from ..session import widen_for_kernel

    docs = _t(spark, sf_dir, "documents")
    # ONE widened tokenize+shingle pass feeds both the LSH signature
    # pipeline (via the shingles= pass-through) and the exact-Jaccard
    # lanes below — previously the corpus was tokenized+shingled twice,
    # and this copy ran on the narrow byte-sized scan (the
    # duplicated_span_stats serialization class, r12).  Signatures from
    # a within-row-distinct shingle set are value-identical (MinHash is
    # set-semantics; minhash_signatures array_distincts internally).
    sh_all = ckpt.persist(
        widen_for_kernel(docs.select("doc_id", "text"))
        .select("doc_id", tokenize("text", 1, []).alias("tk"))
        .select(
            "doc_id",
            F.array_distinct(word_shingles(F.col("tk"), 3)).alias("sh"),
        )
    )
    # Zero-shingle (empty/short) docs carry no Jaccard evidence; the
    # oracle drops them via its inner join on the exploded-shingle
    # size CTE, so drop them here too — otherwise a sampled pair of
    # two empty docs would satisfy 2·0 ≥ 0 and count as a true dup.
    # (They emit no LSH signature row on either path.)  The filter
    # sits ABOVE the persist: pushed below it, FilterExec re-evaluates
    # the whole tokenize+shingle chain per row for its size() operand
    # (no cross-operator subexpression reuse — measured 8x: 0.45 s ->
    # 3.9 s at sf0.1); on the cache it is a size() probe of stored
    # arrays.
    sh = sh_all.where(F.size("sh") > 0)
    pairs = minhash_lsh_dedup(
        docs, num_perm=32, bands=8, hash_fn="md5", shingles=sh
    )

    def _jaccard_flags(pair_df):
        """(doc_a, doc_b) → + is_true (exact 2·|∩| ≥ |∪|)."""
        j = (
            pair_df.join(
                sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
                "doc_a",
            )
            .join(
                sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
                "doc_b",
            )
            .withColumn("i", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn("u", F.size("sh_a") + F.size("sh_b") - F.col("i"))
        )
        return j.select(
            "doc_a", "doc_b", (F.col("i") * 2 >= F.col("u")).alias("is_true")
        )

    prec = _jaccard_flags(pairs).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_cand_true"),
    )
    samp = docs.where(F.col("doc_id") % 20 == 3).select("doc_id")
    sdocs = samp.agg(F.count(F.lit(1)).cast("bigint").alias("n_sample_docs"))
    a = samp.select(F.col("doc_id").alias("doc_a"))
    b = samp.select(F.col("doc_id").alias("doc_b"))
    spairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    strue = _jaccard_flags(spairs).where("is_true").select("doc_a", "doc_b")
    rec = (
        strue.join(pairs.withColumn("_hit", F.lit(1)), ["doc_a", "doc_b"], "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sample_true"),
            F.coalesce(F.sum(F.coalesce(F.col("_hit"), F.lit(0))), F.lit(0))
            .cast("bigint")
            .alias("n_caught"),
        )
    )
    ppm = lambda num, den: F.expr(
        f"CAST(CASE WHEN {den} = 0 THEN 1000000"
        f" ELSE {num} * 1000000 DIV {den} END AS BIGINT)"
    )
    out = ckpt.checkpoint(
        prec.crossJoin(F.broadcast(sdocs))
        .crossJoin(F.broadcast(rec))
        .select(
            F.lit(8).cast("bigint").alias("bands"),
            F.lit(4).cast("bigint").alias("rows_per_band"),
            "n_candidates",
            "n_cand_true",
            ppm("n_cand_true", "n_candidates").alias("precision_ppm"),
            "n_sample_docs",
            "n_sample_true",
            "n_caught",
            ppm("n_caught", "n_sample_true").alias("recall_ppm"),
        )
    )
    return ckpt.keep(out)


