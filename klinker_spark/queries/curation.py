"""Query registrations: curation family (split from the original single-file registry; registration order preserved by package import order in __init__)."""
from __future__ import annotations
from .. import ckpt
from ._core import F, ORACLES, _shingle_cte, _t, _toks_cte, load_events, ngram_jaccard_dedup, register, tokenize
from .ann import _COS_SQL, _derived_path, _gd_iter_ctes, _index_current, _write_index_manifest

# ------------------------------------------------------------------ corpus curation (training-data pipeline)
@register(
    "repetition_stats",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
    base AS (SELECT doc_id, len(tk) n,
                    round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 6) dtf
             FROM toks),
    big AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(tk)),
                                         i -> tk[i] || ' ' || tk[i+1])) bigram
            FROM toks),
    bc AS (SELECT doc_id, bigram, count(*) c FROM big GROUP BY 1, 2),
    agg AS (SELECT doc_id, sum(c) total, max(c) top,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) dup
            FROM bc GROUP BY 1)
    SELECT b.doc_id, n AS n_tokens, dtf AS dup_token_frac,
           round(coalesce(top * 1.0 / total, 0), 6) AS top_bigram_frac,
           round(coalesce(dup * 1.0 / total, 0), 6) AS dup_bigram_frac,
           CASE WHEN dtf <= 0.55 AND coalesce(top * 1.0 / total, 0) <= 0.10
                THEN 1 ELSE 0 END AS keep
    FROM base b LEFT JOIN agg USING (doc_id)
    """,
)
def repetition_stats_q(spark, sf_dir):
    """Gopher-style repetition filter signals per document (duplicate
    tokens, top/duplicated bigram fractions) + the keep decision."""
    from ..ops.curation import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


_NGRAM_PAIRS_SQL = _shingle_cte() + """,
    sizes AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
    inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_common
              FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.4)
"""


@register(
    "dedup_components",
    "WITH RECURSIVE "
    + _NGRAM_PAIRS_SQL
    + """
    , edges AS (SELECT doc_a AS id, doc_b AS nid FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT id, id AS lab FROM (SELECT DISTINCT id FROM edges)
              UNION
              SELECT e.id, r.lab FROM edges e JOIN reach r ON r.id = e.nid),
    comp AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id)
    SELECT d.doc_id,
           coalesce(c.lab, d.doc_id) AS canonical_id,
           CASE WHEN coalesce(c.lab, d.doc_id) <> d.doc_id THEN 1 ELSE 0 END
             AS is_duplicate
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """,
)
def dedup_components_q(spark, sf_dir):
    """Near-dup pairs (exact 3-gram Jaccard ≥ 0.4) → transitive closure
    via distributed connected components → canonical survivor per
    cluster.  The recursive-CTE oracle value-checks the full iterative
    min-label fixpoint (same recipe as dbscan_labels)."""
    from ..ops.curation import canonical_dedup
    from ..ops.dedup import ngram_jaccard_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_dedup(docs, shingle_k=3, threshold=0.4).select("doc_a", "doc_b")
    return canonical_dedup(docs, pairs)


_DEDUP_COMPONENTS_ORACLE = ORACLES["dedup_components"]


@register(
    "golden_records",
    "WITH RECURSIVE "
    + _NGRAM_PAIRS_SQL
    + """
    , edges AS (SELECT doc_a AS id, doc_b AS nid FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT id, id AS lab FROM (SELECT DISTINCT id FROM edges)
              UNION
              SELECT e.id, r.lab FROM edges e JOIN reach r ON r.id = e.nid),
    comp AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id),
    lab AS (SELECT d.doc_id, coalesce(c.lab, d.doc_id) cluster_id,
                   d.n_chars, d.source
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) cluster_size,
           (max({'c': n_chars, 'i': -doc_id})).i * -1 rep_doc_id,
           (max({'c': n_chars, 'i': -doc_id})).c rep_n_chars,
           CAST(count(DISTINCT source) AS BIGINT) n_sources,
           CAST(sum(n_chars) AS BIGINT) total_chars
    FROM lab GROUP BY cluster_id
    HAVING count(*) > 1 ORDER BY cluster_id
    """,
)
def golden_records_q(spark, sf_dir):
    """Golden-record construction — the last mile of entity
    resolution: near-dup clusters (exact 3-gram Jaccard → transitive
    closure) collapse to ONE survivor each, chosen by the
    deterministic most-informative rule (max chars, min doc_id on
    ties) via a single struct-max aggregate; per cluster the size,
    survivor, source diversity and total bytes.  Only multi-doc
    clusters are emitted (singletons need no merge)."""
    from ..ops.curation import connected_components
    from ..ops.dedup import ngram_jaccard_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_dedup(docs, shingle_k=3, threshold=0.4).select(
        "doc_a", "doc_b"
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    lab = docs.join(comp, docs["doc_id"] == comp["id"], "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        "n_chars",
        "source",
    )
    pick = F.max(F.struct(F.col("n_chars").alias("c"), (-F.col("doc_id")).alias("i")))
    return (
        lab.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            (pick["i"] * -1).alias("rep_doc_id"),
            pick["c"].alias("rep_n_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .where(F.col("cluster_size") > 1)
        .orderBy("cluster_id")
    )


@register("dedup_components_star", _DEDUP_COMPONENTS_ORACLE)
def dedup_components_star_q(spark, sf_dir):
    """Same canonical-dedup semantics computed by the O(log n)
    large-star/small-star contraction instead of min-label propagation
    — identical output by construction, so it shares the recursive-CTE
    oracle; a driver-verified equivalence of the two algorithms."""
    from ..ops.curation import canonical_dedup
    from ..ops.dedup import ngram_jaccard_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_dedup(docs, shingle_k=3, threshold=0.4).select("doc_a", "doc_b")
    return canonical_dedup(docs, pairs, algorithm="star")


@register(
    "dedup_components_priority",
    "WITH RECURSIVE "
    + _NGRAM_PAIRS_SQL
    + """
    , edges AS (SELECT doc_a AS id, doc_b AS nid FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT id, id AS lab FROM (SELECT DISTINCT id FROM edges)
              UNION
              SELECT e.id, r.lab FROM edges e JOIN reach r ON r.id = e.nid),
    comp AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id),
    best AS (
      SELECT lab, doc_id AS survivor FROM (
        SELECT c.lab, d.doc_id,
               row_number() OVER (PARTITION BY c.lab
                                  ORDER BY d.n_chars DESC, d.doc_id ASC) rn
        FROM comp c JOIN documents d ON d.doc_id = c.id) WHERE rn = 1)
    SELECT d.doc_id,
           coalesce(b.survivor, d.doc_id) AS canonical_id,
           CASE WHEN coalesce(b.survivor, d.doc_id) <> d.doc_id THEN 1 ELSE 0 END
             AS is_duplicate
    FROM documents d
    LEFT JOIN comp c ON c.id = d.doc_id
    LEFT JOIN best b ON b.lab = c.lab
    """,
)
def dedup_components_priority_q(spark, sf_dir):
    """Priority survivor selection: same transitive closure, but each
    duplicate cluster keeps its LONGEST member (``n_chars``), ties by
    smallest id — "keep the best copy, not the first", the survivor
    policy production pipelines want when duplicates differ in quality.
    The argmax is one struct-max aggregate (map-side partials), no
    window over the cluster."""
    from ..ops.curation import canonical_dedup
    from ..ops.dedup import ngram_jaccard_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_dedup(docs, shingle_k=3, threshold=0.4).select("doc_a", "doc_b")
    return canonical_dedup(docs, pairs, priority_col="n_chars")


@register(
    "stratified_sample",
    """
    SELECT doc_id, lang, source, rk FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rk
      FROM documents)
    WHERE rk <= 2
    """,
)
def stratified_sample_q(spark, sf_dir):
    """Deterministic stratified sampling: ≤2 docs per (lang, source)
    stratum by md5-hash order — seedless, engine-independent quota
    sampling for corpus mixing."""
    from ..ops.curation import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), ["lang", "source"], n_per_stratum=2
    )


@register(
    "contamination_check",
    "WITH "
    + _shingle_cte(", source")
    + """,
    bench AS (SELECT DISTINCT shingle FROM ds WHERE source = 'src0'),
    ev AS (SELECT doc_id, count(*) n_ngrams FROM ds WHERE source <> 'src0' GROUP BY 1),
    hit AS (SELECT d.doc_id, count(*) n_hit FROM ds d
            JOIN bench b ON d.shingle = b.shingle
            WHERE d.source <> 'src0' GROUP BY 1)
    SELECT ev.doc_id, n_ngrams,
           coalesce(n_hit, 0) AS n_contaminated,
           round(coalesce(n_hit, 0) * 1.0 / n_ngrams, 6) AS contamination
    FROM ev LEFT JOIN hit USING (doc_id)
    """,
)
def contamination_check_q(spark, sf_dir):
    """Benchmark decontamination scan: distinct 3-gram overlap of every
    corpus doc against the 'benchmark' partition (source src0), the
    standard pre-training contamination test; benchmark n-gram set is
    broadcast."""
    from ..ops.curation import contamination_check

    return contamination_check(
        _t(spark, sf_dir, "documents"), F.col("source") == "src0"
    )


@register(
    "pii_scrub",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                            '<EMAIL>', 'g'),
             '[0-9]{4,}', '<NUM>', 'g') AS clean_text,
           len(regexp_extract_all(text,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
           len(regexp_extract_all(
             regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                            '<EMAIL>', 'g'),
             '[0-9]{4,}')) AS n_numbers
    FROM documents
    """,
)
def pii_scrub_q(spark, sf_dir):
    """PII redaction (emails, ≥4-digit runs) with per-doc audit counts
    — pure codegen'd regex expressions, shuffle-free."""
    from ..ops.curation import pii_scrub

    return pii_scrub(_t(spark, sf_dir, "documents"))


@register(
    "unigram_logprob",
    """
    WITH tw AS (
      SELECT doc_id, token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> ''),
    freq AS (SELECT token, count(*) c FROM tw GROUP BY 1),
    tot AS (SELECT count(*) n FROM tw),
    lp AS (SELECT token,
                  CAST(round(ln(c * 1.0 / (SELECT n FROM tot)) * 1e6) AS BIGINT) lp_micro
           FROM freq)
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(lp_micro) / (1e6 * count(*)), 6) AS avg_logprob
    FROM tw JOIN lp USING (token)
    GROUP BY doc_id
    """,
)
def unigram_logprob_q(spark, sf_dir):
    """CCNet-style quality: mean unigram log-probability per doc under
    the corpus distribution; integer micro-nat summation makes the
    double result shuffle-order-free."""
    from ..ops.curation import unigram_logprob_quality

    return unigram_logprob_quality(_t(spark, sf_dir, "documents"))


@register(
    "dsir_importance",
    """
    WITH tw AS (
      SELECT doc_id, is_t, token
      FROM (SELECT doc_id, source = 'src0' AS is_t,
                   unnest(string_split(text, ' ')) AS token
            FROM documents)
      WHERE token <> ''),
    freq AS (SELECT token, count(*) c_all,
                    sum(CASE WHEN is_t THEN 1 ELSE 0 END) c_tgt
             FROM tw GROUP BY 1),
    tot AS (SELECT count(*) n_all,
                   sum(CASE WHEN is_t THEN 1 ELSE 0 END) n_tgt,
                   count(DISTINCT token) v
            FROM tw),
    w AS (SELECT token,
                 CAST(round((ln((c_tgt + 1) * 1.0 / (n_tgt + v))
                             - ln((c_all + 1) * 1.0 / (n_all + v))) * 1e6) AS BIGINT) wm
          FROM freq, tot)
    SELECT doc_id, count(*) AS n_tokens, round(sum(wm) / 1e6, 6) AS log_ratio
    FROM tw JOIN w USING (token)
    WHERE NOT is_t
    GROUP BY doc_id
    """,
)
def dsir_importance_q(spark, sf_dir):
    """DSIR importance resampling weights: unigram log ratio of the
    src0 'target domain' vs the whole corpus, add-one smoothed."""
    from ..ops.curation import dsir_importance

    return dsir_importance(_t(spark, sf_dir, "documents"), F.col("source") == "src0")


@register(
    "pack_sequences",
    """
    WITH base AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) h,
             len(string_split(text, ' ')) n_tokens
      FROM documents),
    grp AS (
      SELECT doc_id, h, n_tokens,
             CAST(list_sum(list_transform(range(1, 9),
                    i -> (strpos('0123456789abcdef', substr(h, CAST(i AS INT), 1)) - 1)
                         * CAST(16 ** (8 - i) AS BIGINT))) AS BIGINT) % 16 AS pack_group
      FROM base),
    ofs AS (
      SELECT doc_id, pack_group, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
                                          ORDER BY h, doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM grp)
    SELECT doc_id, pack_group, n_tokens, start_offset,
           CAST(floor(start_offset / 256) AS BIGINT) AS bin_id
    FROM ofs
    """,
)
def pack_sequences_q(spark, sf_dir):
    """Concat-and-chunk sequence packing into 256-token training bins,
    salted into 16 parallel pack groups (no global sort)."""
    from ..ops.curation import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=256, n_groups=16)


@register(
    "embedding_quantize",
    """
    WITH base AS (SELECT vec_id, embedding v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x::DOUBLE))) / 127 AS scale
          FROM base),
    q AS (SELECT vec_id, v, scale,
                 CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                      ELSE list_transform(v, x -> CAST(round(x::DOUBLE / scale) AS INTEGER))
                 END AS qv
          FROM s)
    SELECT vec_id,
           round(scale, 6) AS scale,
           md5(array_to_string(qv, ',')) AS qhash,
           round(list_max(list_transform(list_zip(qv, v),
                                         p -> abs(p[1] * scale - p[2]::DOUBLE))), 6)
             AS max_abs_err
    FROM q
    """,
)
def embedding_quantize_q(spark, sf_dir):
    """Int8 scalar quantization of the embeddings table; the md5 code
    fingerprint makes the exact quantized payload oracle-checkable."""
    from ..functions.vectors import quantize_embeddings

    return quantize_embeddings(_t(spark, sf_dir, "embeddings"))


@register(
    "vocab_coverage",
    """
    WITH tw AS (
      SELECT doc_id, token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> ''),
    freq AS (SELECT token, count(*) c FROM tw GROUP BY 1),
    vocab AS (SELECT token FROM (
                SELECT token, row_number() OVER (ORDER BY c DESC, token ASC) r
                FROM freq)
              WHERE r <= 100)
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS oov_rate
    FROM tw LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
    """,
)
def vocab_coverage_q(spark, sf_dir):
    """Top-100 corpus vocabulary coverage: per-doc OOV occurrence rate
    (tokenizer/vocab fit check); vocabulary broadcast."""
    from ..ops.curation import vocab_coverage

    return vocab_coverage(_t(spark, sf_dir, "documents"), vocab_size=100)


@register(
    "corpus_rollup",
    r"""
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')))
             AS BIGINT) AS n_bpe_tokens,
           round(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')))
                 * 1.0 / sum(len(string_split(text, ' '))), 6) AS fertility,
           round(sum(length(text)) * 1.0 / count(*), 6) AS mean_chars
    FROM documents
    GROUP BY source, lang
    """,
)
def corpus_rollup_q(spark, sf_dir):
    """Per-(source, lang) corpus report: doc/token totals, tokenizer
    fertility, mean length — integer sums only, shuffle-order-free."""
    from ..ops.curation import corpus_rollup

    return corpus_rollup(_t(spark, sf_dir, "documents"))


def _qcls_oracle(D: int = 8, n_train: int = 200, iters: int = 4, lr: str = "0.5") -> str:
    """Oracle for ``train_quality_scores_deterministic`` — features +
    train slice + the shared GD chain + distributed scoring."""
    sums = ",\n             ".join(
        f"sum(CASE WHEN j = {jj} THEN 1.0 ELSE 0.0 END) AS c{jj}" for jj in range(D)
    )
    zeros = ", ".join(["0.0"] * (D + 1))
    xs = ", ".join(f"p.c{jj} / p.n" for jj in range(D))
    gd_sql, prev_w = _gd_iter_ctes(iters, D + 1, lr)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents),
    ht AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(1, 9),
                  i -> (strpos('0123456789abcdef', substr(md5(tok), CAST(i AS INT), 1)) - 1)
                       * CAST(16 ** (8 - i) AS BIGINT))) AS BIGINT) % {D} AS j
      FROM toks),
    pd AS (
      SELECT doc_id,
             {sums},
             count(*)::DOUBLE AS n
      FROM ht GROUP BY doc_id),
    fx AS (
      SELECT d.doc_id,
             CASE WHEN d.source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
             md5(CAST(d.doc_id AS VARCHAR)) AS h,
             CASE WHEN p.n IS NULL OR p.n = 0 THEN [{zeros[:-3]}1.0]
                  ELSE [{xs}, 1.0] END AS x
      FROM documents d LEFT JOIN pd p USING (doc_id)),
    train AS (
      SELECT doc_id, y, h, x FROM (
        SELECT fx.*, row_number() OVER (ORDER BY h, doc_id) rn FROM fx)
      WHERE rn <= {n_train}),
    tn AS (SELECT count(*)::DOUBLE AS m FROM train),
    w0 AS (SELECT [{zeros}] AS w),{gd_sql}
    SELECT f.doc_id, CAST(f.y AS INT) AS label,
           round(1.0 / (1.0 + exp(-(list_sum(list_transform(list_zip(w.w, f.x),
                                                            q -> q[1] * q[2]))))), 6)
             AS prob
    FROM fx f CROSS JOIN {prev_w} w
    """


@register("quality_classifier_md5", _qcls_oracle())
def quality_classifier_md5_q(spark, sf_dir):
    """TRAINED quality model under an EXACT oracle: deterministic
    logistic regression (md5-ordered train slice, fixed-iteration
    full-batch GD with sequential float accumulation) on md5-hashed
    L1-normalized bag-of-words; every document scored by a distributed
    sequential-fold sigmoid.  The oracle re-trains the model in SQL —
    per-iteration CTEs with ordered ``list_sum`` gradients — so the
    learned weights themselves are value-checked, not just the
    scoring pass (the ``sif_pc_removal_md5`` contract extended to a
    supervised model)."""
    from ..ops.quality_model import train_quality_scores_deterministic

    return train_quality_scores_deterministic(
        _t(spark, sf_dir, "documents"), F.col("source") == "src0"
    )


@register("quality_classifier")
def quality_classifier_q(spark, sf_dir):
    """Trainable fasttext-style quality model: src0 as the trusted
    positive slice, LR on hashed bag-of-words, every doc scored.
    rows-only (L-BFGS float reduction order; same class as the
    DeepBlocker/KMeans fits)."""
    from ..ops.quality_model import train_quality_scores

    return train_quality_scores(
        _t(spark, sf_dir, "documents"), F.col("source") == "src0"
    )


@register(
    "duplicated_span_stats",
    "WITH "
    + _shingle_cte(k=10)
    + """,
    ne AS (SELECT doc_id, shingle FROM ds WHERE shingle <> ''),
    dfc AS (SELECT shingle, count(DISTINCT doc_id) df FROM ne GROUP BY 1)
    SELECT doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           round(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS dup_span_frac
    FROM ne JOIN dfc USING (shingle)
    GROUP BY doc_id
    """,
)
def duplicated_span_stats_q(spark, sf_dir):
    """Span-level duplication (Lee et al. 2022 substring-dedup signal,
    10-gram approximation): fraction of each doc's spans occurring in
    other docs."""
    from ..ops.curation import duplicated_span_stats

    return duplicated_span_stats(_t(spark, sf_dir, "documents"), span_k=10)


@register(
    "token_budget_mix",
    """
    WITH base AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) n_tokens,
             CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 900
                         WHEN 'src2' THEN 150 END AS budget,
             md5(CAST(doc_id AS VARCHAR)) h
      FROM documents),
    ofs AS (
      SELECT doc_id, source, n_tokens, budget,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
                                          ORDER BY h, doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
      FROM base WHERE budget IS NOT NULL)
    SELECT doc_id, source, n_tokens, tokens_before
    FROM ofs WHERE tokens_before < budget
    """,
)
def token_budget_mix_q(spark, sf_dir):
    """Corpus mixing: three sources with token budgets (400/900/150),
    filled in deterministic md5 order — the data-mixture recipe as one
    window over a source-hash shuffle."""
    from ..ops.curation import token_budget_mix

    return token_budget_mix(
        _t(spark, sf_dir, "documents"), {"src0": 400, "src1": 900, "src2": 150}
    )


@register(
    "chunk_documents",
    """
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') tk
      FROM documents),
    nn AS (SELECT doc_id, tk, len(tk) n FROM base WHERE len(tk) > 0),
    ch AS (
      SELECT doc_id, tk, n,
             unnest(generate_series(0, CAST(floor((n - 1) / 24) AS INT))) AS chunk_idx
      FROM nn),
    sl AS (SELECT doc_id, chunk_idx,
                  tk[chunk_idx * 24 + 1 : chunk_idx * 24 + 32] chunk
           FROM ch)
    SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM sl
    """,
)
def chunk_documents_q(spark, sf_dir):
    """Fixed-window document chunking with overlap (size 32, overlap 8
    → stride 24) — the RAG/embedding context-window prep step as one
    stateless explode-of-sequence projection, no shuffle, no UDF."""
    from ..ops.curation import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=32, overlap=8
    )


@register(
    "incremental_ingest",
    """
    WITH hist AS (SELECT DISTINCT md5(text) fp FROM documents WHERE doc_id % 3 = 0)
    SELECT d.doc_id, md5(d.text) AS fingerprint
    FROM documents d
    -- NOT EXISTS, not NOT IN: a NULL fingerprint (NULL text) must pass
    -- the gate like Spark's left_anti (NULL never equals), while
    -- NOT IN would three-value-logic it into oblivion
    WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.fp = md5(d.text))
    """,
)
def incremental_ingest_q(spark, sf_dir):
    """Incremental ingestion gate (batch analogue of the streaming
    operator): docs whose fingerprint is absent from a deterministic
    'history' slice (doc_id % 3 = 0) pass; exact-dup docs of history
    content are filtered even with new ids."""
    from ..streaming.dedup import incremental_new_docs

    docs = _t(spark, sf_dir, "documents")
    history = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    return incremental_new_docs(docs, history).select("doc_id", "fingerprint")


@register(
    "edit_distance_dedup",
    """
    WITH g AS (SELECT c_custkey id, c_name s, length(c_name) ln FROM customer),
    grams AS (
      SELECT id, gram FROM (
        SELECT id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(length(s) - 2, 0)), i -> substr(s, i, 3)))) gram
        FROM g)),
    df AS (SELECT gram, count(*) df FROM grams GROUP BY gram),
    rk AS (SELECT id, gram,
                  row_number() OVER (PARTITION BY id ORDER BY df ASC, gram ASC) r
           FROM grams JOIN df USING (gram)),
    pre AS (SELECT * FROM rk WHERE r <= 4),
    cand AS (SELECT DISTINCT a.id ia, b.id ib
             FROM pre a JOIN pre b ON a.gram = b.gram AND a.id < b.id)
    SELECT cand.ia AS doc_a, cand.ib AS doc_b,
           levenshtein(x.s, y.s) AS dist
    FROM cand JOIN g x ON cand.ia = x.id JOIN g y ON cand.ib = y.id
    WHERE abs(x.ln - y.ln) <= 1 AND levenshtein(x.s, y.s) <= 1
    """,
)
def edit_distance_dedup_q(spark, sf_dir):
    """EDJoin-style edit-distance self-join on customer names (Ed<=1,
    char 3-grams): prefix filter on the 4 globally-rarest grams,
    builtin levenshtein verify — the classic ER string-similarity
    join."""
    from ..ops.dedup import edit_distance_dedup

    cust = _t(spark, sf_dir, "customer")
    return edit_distance_dedup(cust, id_col="c_custkey", text_col="c_name", max_dist=1)


@register(
    "readability_stats",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) n_sentences
      FROM documents)
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(list_sum(list_transform(words,
                  x -> greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1)))
             AS BIGINT) AS n_syllables,
           round(0.39 * (len(words) / n_sentences)
                 + 11.8 * (list_sum(list_transform(words,
                     x -> greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1)))
                     / len(words))
                 - 15.59, 6) AS fk_grade
    FROM w WHERE len(words) > 0
    """,
)
def readability_stats_q(spark, sf_dir):
    """Flesch-Kincaid readability per document (vowel-group syllable
    heuristic, punctuation-run sentences) — the human-prose-vs-
    boilerplate curation signal, pure per-row expressions."""
    from ..ops.textstats import readability_stats

    return readability_stats(_t(spark, sf_dir, "documents"))


@register(
    "normalize_text",
    """
    SELECT doc_id,
           trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))
             AS text_norm
    FROM documents
    """,
)
def normalize_text_q(spark, sf_dir):
    """Unicode NFC + lowercase + whitespace collapse; the NFC stage is
    the engine's one documented Python boundary (vectorized
    Series.str.normalize) checked against DuckDB's nfc_normalize —
    same Unicode standard, so composed/decomposed variants collapse
    identically."""
    from ..ops.textstats import normalize_text

    docs = _t(spark, sf_dir, "documents")
    return normalize_text(docs).select("doc_id", "text_norm")


@register(
    "value_histogram",
    """
    WITH v AS (SELECT value::DOUBLE x FROM events WHERE value IS NOT NULL),
    mm AS (SELECT min(x) lo, max(x) hi FROM v),
    b AS (SELECT CASE WHEN hi = lo THEN 0
                 ELSE greatest(0, least(19, floor((x - lo) * 20 / (hi - lo))::INT)) END
                   AS bucket,
                 lo, hi
          FROM v CROSS JOIN mm)
    SELECT bucket,
           round(lo + bucket * ((hi - lo) / 20), 6) AS lo_edge,
           round(lo + (bucket + 1) * ((hi - lo) / 20), 6) AS hi_edge,
           count(*) AS cnt
    FROM b GROUP BY bucket, lo, hi
    """,
)
def value_histogram_q(spark, sf_dir):
    """Equi-width histogram of events.value (20 buckets, data-derived
    range) — portable float arithmetic instead of width_bucket, so
    bucket ids, edges, and counts all hash-match the oracle."""
    from ..ops.rollup import value_histogram

    return value_histogram(_t(spark, sf_dir, "events"), "value", bins=20)


@register(
    "doc_length_quantiles",
    """
    SELECT source,
           count(n_chars) AS n,
           round(quantile_cont(n_chars::DOUBLE, 0.25), 6) AS p25,
           round(quantile_cont(n_chars::DOUBLE, 0.50), 6) AS p50,
           round(quantile_cont(n_chars::DOUBLE, 0.75), 6) AS p75,
           round(quantile_cont(n_chars::DOUBLE, 0.95), 6) AS p95
    FROM documents GROUP BY source
    """,
)
def doc_length_quantiles_q(spark, sf_dir):
    """Per-source doc-length distribution cut points — exact
    PERCENTILE_CONT (linear interpolation) quantiles, the numbers a
    curation pipeline thresholds on (p95 length cap, median profile).
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share
    interpolation semantics, so the whole profile is value-checked;
    the ``approx=True`` sketch path (bounded-memory percentile_approx
    for huge groups) is recall-tested in tests."""
    from ..ops.rollup import grouped_quantiles

    return grouped_quantiles(
        _t(spark, sf_dir, "documents"), ["source"], "n_chars"
    )


@register(
    "bigram_logprob",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, ' '), x -> x <> '') tk
      FROM documents),
    arr AS (SELECT doc_id, tk, len(tk) n FROM t WHERE len(tk) > 0),
    occ AS (
      SELECT doc_id, n, tk[i] b, CASE WHEN i > 1 THEN tk[i-1] END a
      FROM arr, unnest(generate_series(1, n)) s(i)),
    uni AS (SELECT b, count(*) cb FROM occ GROUP BY b),
    tot AS (SELECT count(*) nt FROM occ),
    bg AS (SELECT a, b, count(*) cab FROM occ WHERE a IS NOT NULL GROUP BY a, b),
    ctx AS (SELECT a, sum(cab) ca FROM bg GROUP BY a),
    scored AS (
      SELECT o.doc_id, o.n,
             CAST(round(CASE WHEN o.a IS NULL THEN ln(u.cb / (SELECT nt FROM tot))
                        ELSE ln(0.7 * (g.cab / c.ca)
                                + (1.0 - 0.7) * (u.cb / (SELECT nt FROM tot))) END
                        * 1e6) AS BIGINT) lp
      FROM occ o JOIN uni u USING (b)
      LEFT JOIN bg g ON o.a = g.a AND o.b = g.b
      LEFT JOIN ctx c ON o.a = c.a)
    SELECT doc_id, min(n) AS n_tokens,
           round(sum(lp) / (1e6 * min(n)), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def bigram_logprob_q(spark, sf_dir):
    """Interpolated bigram LM quality (lambda=0.7): word-ORDER-aware
    perplexity analogue; first token falls back to unigram.  Integer
    micro-nat sums keep the doubles shuffle-order-free."""
    from ..ops.curation import bigram_logprob_quality

    return bigram_logprob_quality(_t(spark, sf_dir, "documents"))


@register(
    "heavy_shingles",
    "WITH "
    + _shingle_cte()
    + """
    SELECT shingle AS key, cnt FROM (
      SELECT shingle, count(*) cnt
      FROM (SELECT doc_id, unnest(sg) shingle FROM sh) GROUP BY shingle)
    WHERE cnt >= 5
    """,
)
def heavy_shingles_q(spark, sf_dir):
    """Exact boilerplate-shingle detection via the Count-Min pruned
    groupBy (cm_heavy_hitters): rows provably below the threshold drop
    map-side before the only shuffle; output is exact, so the oracle
    is the plain HAVING query."""
    from ..functions.text import tokenize, word_shingles
    from ..ops.sketches import cm_heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id"), tokenize("text", 1, []).alias("tk")
    ).select("doc_id", F.explode(word_shingles(F.col("tk"), 3)).alias("shingle"))
    return cm_heavy_hitters(sh, "shingle", min_count=5)


@register(
    "cm_token_freq",
    "WITH "
    + _toks_cte()
    + """,
    tok AS (SELECT doc_id, unnest(tk) token FROM toks),
    hashes AS (SELECT unnest([0,1,2,3]) i),
    cells AS (
      SELECT i, (('0x' || substr(md5(i::VARCHAR || ':' || token), 1, 15))::BIGINT
                 % 1024) c, count(*) cnt
      FROM tok CROSS JOIN hashes GROUP BY 1, 2),
    dt AS (SELECT token, count(*) true_count FROM tok GROUP BY token),
    est AS (
      SELECT d.token, min(coalesce(ce.cnt, 0)) est_count
      FROM dt d CROSS JOIN hashes h
      LEFT JOIN cells ce
        ON ce.i = h.i
       AND ce.c = (('0x' || substr(md5(h.i::VARCHAR || ':' || d.token), 1, 15))::BIGINT
                   % 1024)
      GROUP BY d.token)
    SELECT d.token, d.true_count, e.est_count
    FROM dt d JOIN est e USING (token)
    """,
)
def cm_token_freq_q(spark, sf_dir):
    """Count-Min frequency sketch, md5 twin: token multiplicities
    folded into a 4x1024 counter table, per-token min-of-counters
    estimate verified cell-for-cell against the exact counts the
    oracle computes both ways.

    Count-then-sketch: the exact per-token counts the query outputs
    anyway double as the sketch's weights, so the 4 md5 lanes run once
    per DISTINCT token (vocab-bounded) instead of once per occurrence
    (corpus-bounded) — identical cells, measured 4-5x at sf1.  The
    counted table is eagerly cached: it feeds the sketch build, the
    estimate probe, and the output."""
    from ..functions.text import tokenize
    from ..ops.sketches import cm_build, cm_estimate

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text", 1, [])).alias("token"))
    true = ckpt.persist(toks.groupBy("token").agg(F.count("*").alias("true_count")))
    true.count()
    sketch = cm_build(
        true, "token", width=1024, depth=4, hash_fn="md5", weight_col="true_count"
    )
    return cm_estimate(
        true, "token", sketch, width=1024, depth=4, hash_fn="md5"
    ).select("token", "true_count", "est_count")


@register(
    "neardup_ingest_gate",
    "WITH "
    + _shingle_cte()
    + """,
    hashes AS (SELECT unnest([0,1,2,3]) i),
    sig AS (
      SELECT doc_id, p, min(md5(p::VARCHAR || ':' || shingle)) mh
      FROM ds CROSS JOIN (SELECT unnest(generate_series(0, 15)) p)
      GROUP BY doc_id, p),
    bkeys AS (
      SELECT doc_id,
             (p // 4)::VARCHAR || '_' || md5(string_agg(mh, ',' ORDER BY p)) band_key
      FROM sig GROUP BY doc_id, p // 4),
    hpos AS (
      SELECT (('0x' || substr(md5(i::VARCHAR || ':' || band_key), 1, 15))::BIGINT
              % 16384) p
      FROM (SELECT band_key FROM bkeys WHERE doc_id % 3 = 0) CROSS JOIN hashes),
    words AS (
      SELECT (p // 32)::INT w, bit_or(1::BIGINT << (p % 32)::INT) word
      FROM hpos GROUP BY 1),
    probe AS (
      SELECT k.doc_id, k.band_key,
             (('0x' || substr(md5(i::VARCHAR || ':' || k.band_key), 1, 15))::BIGINT
              % 16384) p
      FROM bkeys k CROSS JOIN hashes),
    bandhit AS (
      SELECT doc_id, band_key,
             bool_and(coalesce(((w.word >> (p % 32)::INT) & 1) = 1, false)) hit
      FROM probe LEFT JOIN words w ON (p // 32)::INT = w.w
      GROUP BY doc_id, band_key),
    dochit AS (SELECT doc_id, bool_or(hit) mh FROM bandhit GROUP BY doc_id)
    SELECT t.doc_id,
           CASE WHEN tk IS NULL OR len(tk) = 0 THEN 0
                WHEN len(tk) <= 3 THEN 1 ELSE len(tk) - 2 END AS n_shingles,
           coalesce(d.mh, false) AS maybe_neardup
    FROM toks t LEFT JOIN dochit d USING (doc_id)
    """,
)
def neardup_ingest_gate_q(spark, sf_dir):
    """Stateless streaming near-dup gate, md5 twin: MinHash signatures
    in EXPRESSION form (no groupBy -> no stream state), LSH band keys,
    history bands folded into a Bloom bitmap delivered as a one-row
    broadcast — the whole signature->band->bloom pipeline verified
    end-to-end in SQL."""
    from ..streaming.dedup import incremental_neardup_docs, neardup_band_keys

    docs = _t(spark, sf_dir, "documents")
    hist = neardup_band_keys(
        docs.where(F.col("doc_id") % 3 == 0), num_perm=16, bands=4, hash_fn="md5"
    )
    out = incremental_neardup_docs(
        docs, hist, num_perm=16, bands=4, hash_fn="md5", m_bits=1 << 14
    )
    return out.select("doc_id", "n_shingles", "maybe_neardup")


@register("neardup_ingest_gate_fast")
def neardup_ingest_gate_fast_q(spark, sf_dir):
    """xxhash64 fast path of the stateless near-dup gate (same plan
    shape as the md5 twin, JVM hash-of-hash signatures — not DuckDB-
    expressible, rows-only; value coverage comes from
    neardup_ingest_gate)."""
    from ..streaming.dedup import incremental_neardup_docs, neardup_band_keys

    docs = _t(spark, sf_dir, "documents")
    hist = neardup_band_keys(docs.where(F.col("doc_id") % 3 == 0), num_perm=16, bands=4)
    out = incremental_neardup_docs(docs, hist, num_perm=16, bands=4, m_bits=1 << 14)
    return out.select("doc_id", "n_shingles", "maybe_neardup")


@register(
    "bloom_ingest_gate",
    """
    WITH hashes AS (SELECT unnest([0,1,2,3]) AS i),
    hist AS (SELECT md5(text) fp FROM documents
             WHERE doc_id % 3 = 0 AND text IS NOT NULL),
    hpos AS (
      SELECT (('0x' || substr(md5(i::VARCHAR || ':' || fp), 1, 15))::BIGINT
              % 16384) p
      FROM hist CROSS JOIN hashes),
    words AS (
      SELECT (p // 32)::INT w, bit_or(1::BIGINT << (p % 32)::INT) word
      FROM hpos GROUP BY 1),
    inc AS (SELECT doc_id, md5(text) fp FROM documents),
    ipos AS (
      SELECT doc_id, fp,
             (('0x' || substr(md5(i::VARCHAR || ':' || fp), 1, 15))::BIGINT
              % 16384) p
      FROM inc CROSS JOIN hashes),
    chk AS (
      SELECT i.doc_id,
             bool_and(coalesce(((w.word >> (i.p % 32)::INT) & 1) = 1, false)) mm
      FROM ipos i LEFT JOIN words w ON (i.p // 32)::INT = w.w
      GROUP BY i.doc_id)
    SELECT inc.doc_id, inc.fp AS fingerprint,
           coalesce(chk.mm, false) AS maybe_dup
    FROM inc LEFT JOIN chk ON inc.doc_id = chk.doc_id
    """,
)
def bloom_ingest_gate_q(spark, sf_dir):
    """Bloom ingestion gate (md5 twin): fold the deterministic history
    slice (doc_id % 3 = 0, same as incremental_ingest) into a 16384-bit
    filter, probe every doc map-side.  maybe_dup=false rows are
    definitely new — the exact anti-join only ever sees the Bloom-hit
    sliver."""
    from ..ops.bloom import bloom_build, bloom_ingest_gate

    docs = _t(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 3 == 0).select(F.md5("text").alias("fp"))
    bloom = bloom_build(hist, "fp", m_bits=1 << 14, hash_fn="md5")
    inc = docs.select("doc_id", F.md5("text").alias("fingerprint"))
    return bloom_ingest_gate(inc, bloom, m_bits=1 << 14, hash_fn="md5")


@register(
    "gopher_rules",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, ' '), x -> x <> '') tk,
             text
      FROM documents),
    m AS (
      SELECT doc_id, len(tk) n_words,
             CASE WHEN len(tk) > 0 THEN
               round(list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk), 6)
             END mean_word_len,
             CASE WHEN len(tk) > 0 THEN
               round(len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / len(tk), 6)
             END symbol_ratio,
             CASE WHEN len(tk) > 0 THEN
               round(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                     / len(tk), 6)
             END alpha_word_ratio,
             len(list_intersect(list_distinct(tk),
                 ['the','be','to','of','and','that','have','with'])) stop_hits
      FROM t),
    f AS (
      SELECT *,
             CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END pass_word_count,
             CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END pass_mean_len,
             CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END pass_symbol,
             CASE WHEN alpha_word_ratio >= 0.8 THEN 1 ELSE 0 END pass_alpha,
             CASE WHEN stop_hits >= 1 THEN 1 ELSE 0 END pass_stopwords
      FROM m)
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio, stop_hits,
           pass_word_count, pass_mean_len, pass_symbol, pass_alpha, pass_stopwords,
           pass_word_count * pass_mean_len * pass_symbol * pass_alpha * pass_stopwords
             AS keep
    FROM f
    """,
)
def gopher_rules_q(spark, sf_dir):
    """Gopher word-level quality rules (Rae et al. 2021 table A1) with
    per-rule flags; min_stop_hits=1 because the synthetic vocabulary
    carries only 'the' from the required stop set."""
    from ..ops.curation import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"), min_stop_hits=1)


@register(
    "line_dedup",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, ' '), t -> t <> '') tk
      FROM documents),
    lines AS (
      SELECT doc_id, i - 1 AS line_no,
             array_to_string(tk[(i-1)*10+1 : i*10], ' ') line
      FROM toks, unnest(generate_series(1, ceil(len(tk)/10.0)::INT)) t(i)),
    banned AS (SELECT line FROM lines GROUP BY line HAVING count(*) > 1),
    kept AS (SELECT * FROM lines l
             WHERE NOT EXISTS (SELECT 1 FROM banned b WHERE b.line = l.line)),
    agg AS (SELECT doc_id, count(*) n_kept,
                   string_agg(line, ' ' ORDER BY line_no) txt
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id, ceil(len(t.tk)/10.0)::INT AS n_lines,
           coalesce(a.n_kept, 0) AS n_lines_kept,
           coalesce(a.txt, '') AS text_clean
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
)
def line_dedup_q(spark, sf_dir):
    """C4/RefinedWeb-style duplicated-line removal: 10-token fixed
    windows stand in for lines on the single-line synthetic corpus; any
    line occurring more than once corpus-wide is dropped everywhere."""
    from ..ops.curation import line_dedup

    return line_dedup(_t(spark, sf_dir, "documents"))


@register(
    "semdedup",
    f"""
    WITH ix0 AS (SELECT vec_id id, embedding v FROM embeddings
                 WHERE embedding IS NOT NULL AND len(embedding) > 0),
    dm AS (SELECT len(v) dim FROM ix0 ORDER BY md5(id::VARCHAR), id LIMIT 1),
    ix AS (SELECT * FROM ix0 WHERE len(v) = (SELECT dim FROM dm)),
    bad AS (SELECT vec_id id FROM embeddings
            WHERE NOT (embedding IS NOT NULL AND len(embedding) > 0
                       AND len(embedding) = (SELECT dim FROM dm))),
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
    pair AS (
      SELECT a.id,
             round(max(CASE WHEN isnan({_COS_SQL.format(a="a.v", b="b.v")}) THEN NULL
                           ELSE {_COS_SQL.format(a="a.v", b="b.v")} END), 6) m
      FROM assign a JOIN assign b ON a.cid = b.cid AND b.id < a.id
      GROUP BY a.id)
    SELECT a.id AS vec_id, a.cid AS cluster_id, p.m AS max_sim_lower,
           (p.m IS NULL OR p.m < 0.35) AS keep
    FROM assign a LEFT JOIN pair p ON a.id = p.id
    UNION ALL
    SELECT id AS vec_id, NULL AS cluster_id, NULL AS max_sim_lower, true AS keep
    FROM bad
    """,
)
def semdedup_q(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023): deterministic
    hash-sample coarse clusters, keep-lowest-id within each semantic
    near-dup set.  Threshold 0.35 sits inside the synthetic embeddings'
    within-cluster sim range so both keep branches are exercised."""
    from ..ops.dedup import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"), threshold=0.35)


_PQ_MD5_ORACLE = """
    WITH ix AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
    samp AS (SELECT row_number() OVER (ORDER BY h, id) - 1 AS c, v
             FROM (SELECT id, v, md5(id::VARCHAR) h FROM ix ORDER BY h, id LIMIT 16)),
    subs AS (SELECT unnest(generate_series(0, 7)) s),
    cb AS (SELECT subs.s, samp.c, samp.v[subs.s*8 + 1 : subs.s*8 + 8] cv
           FROM samp CROSS JOIN subs),
    encd AS (SELECT ix.id, cb.s, cb.c,
                    list_sum(list_transform(ix.v[cb.s*8 + 1 : cb.s*8 + 8],
                             (x, i) -> (x - cb.cv[i]) * (x - cb.cv[i]))) d
             FROM ix CROSS JOIN cb),
    enc AS (SELECT id, s, c FROM (
              SELECT *, row_number() OVER (PARTITION BY id, s
                                           ORDER BY d ASC, c ASC) rn
              FROM encd) WHERE rn = 1),
    qs AS (SELECT id qid, v qv FROM ix WHERE id % 10 = 0),
    dists AS (SELECT q.qid, e.id nid, e.s,
                     list_sum(list_transform(q.qv[e.s*8 + 1 : e.s*8 + 8],
                              (x, i) -> (x - cb.cv[i]) * (x - cb.cv[i]))) d
              FROM qs q CROSS JOIN enc e JOIN cb ON cb.s = e.s AND cb.c = e.c),
    agg AS (SELECT qid query_id, nid neighbor_id,
                   list_sum(list(d ORDER BY s)) dist
            FROM dists GROUP BY 1, 2)
    SELECT query_id, neighbor_id, round(dist, 6) AS dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist ASC, neighbor_id ASC) rank
      FROM agg) WHERE rank <= 10
    """


_IVFPQ_MD5_ORACLE = """
    WITH ix AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
    cents AS (SELECT row_number() OVER (ORDER BY h, id) - 1 AS cid, v AS cv
              FROM (SELECT id, v, md5(id::VARCHAR) h FROM ix ORDER BY h, id LIMIT 16)),
    assign AS (SELECT id, v, cid FROM (
        SELECT ix.id, ix.v, c.cid,
               row_number() OVER (PARTITION BY ix.id
                                  ORDER BY {cos_iv} DESC, c.cid ASC) rn
        FROM ix CROSS JOIN cents c) WHERE rn = 1),
    res AS (SELECT a.id, a.cid, list_transform(a.v, (x, i) -> x - c.cv[i]) rv
            FROM assign a JOIN cents c ON c.cid = a.cid),
    samp AS (SELECT row_number() OVER (ORDER BY h, id) - 1 AS c, rv
             FROM (SELECT id, rv, md5('pq:' || id::VARCHAR) h FROM res
                   ORDER BY h, id LIMIT 16)),
    subs AS (SELECT unnest(generate_series(0, 7)) s),
    cb AS (SELECT subs.s, samp.c, samp.rv[subs.s*8 + 1 : subs.s*8 + 8] cv
           FROM samp CROSS JOIN subs),
    encd AS (SELECT r.id, cb.s, cb.c,
                    list_sum(list_transform(r.rv[cb.s*8 + 1 : cb.s*8 + 8],
                             (x, i) -> (x - cb.cv[i]) * (x - cb.cv[i]))) d
             FROM res r CROSS JOIN cb),
    enc AS (SELECT id, s, c FROM (
              SELECT *, row_number() OVER (PARTITION BY id, s
                                           ORDER BY d ASC, c ASC) rn
              FROM encd) WHERE rn = 1),
    probes AS (SELECT qid, qv, cid FROM (
        SELECT q.id qid, q.v qv, c.cid,
               row_number() OVER (PARTITION BY q.id
                                  ORDER BY {cos_qv} DESC, c.cid ASC) rn
        FROM (SELECT id, v FROM ix WHERE id % 10 = 0) q CROSS JOIN cents c)
      WHERE rn <= 4),
    qres AS (SELECT p.qid, p.cid, list_transform(p.qv, (x, i) -> x - c.cv[i]) rq
             FROM probes p JOIN cents c ON c.cid = p.cid),
    dists AS (SELECT qr.qid, a.id nid, e.s,
                     list_sum(list_transform(qr.rq[e.s*8 + 1 : e.s*8 + 8],
                              (x, i) -> (x - cb.cv[i]) * (x - cb.cv[i]))) d
              FROM qres qr
              JOIN assign a ON a.cid = qr.cid
              JOIN enc e ON e.id = a.id
              JOIN cb ON cb.s = e.s AND cb.c = e.c),
    agg AS (SELECT qid query_id, nid neighbor_id,
                   list_sum(list(d ORDER BY s)) dist
            FROM dists GROUP BY 1, 2)
    SELECT query_id, neighbor_id, round(dist, 6) AS dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist ASC, neighbor_id ASC) rank
      FROM agg) WHERE rank <= 10
    """


@register(
    "ann_topk_ivfpq_md5",
    _IVFPQ_MD5_ORACLE.format(
        cos_iv=_COS_SQL.format(a="ix.v", b="c.cv"),
        cos_qv=_COS_SQL.format(a="q.v", b="c.cv"),
    ),
)
def ann_topk_ivfpq_md5_q(spark, sf_dir):
    """IVF-PQ (IVFADC, Jégou et al. 2011) under an EXACT oracle: coarse
    hash-sample quantizer → residual PQ codebooks (salted md5 sample) →
    partitioned-parquet code lists → cosine probe with static partition
    prune → residual ADC top-10.  The oracle recomputes the whole
    build+search pipeline from the base table (as the IVF indexed
    oracle does), value-checking coarse assignment, residual encoding,
    probe selection, distance tables, and rank boundaries."""
    import os
    import shutil
    import tempfile

    from ..ops.pq import ann_topk_ivfpq, build_ivfpq_index

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivfpq_")
    try:
        build_ivfpq_index(emb, path, n_centroids=16, m=8, k_codes=16,
                          quantizer="hash_sample")
        out = ann_topk_ivfpq(
            emb.where(F.col("vec_id") % 10 == 0), path, k=10, n_probe=4, impl="expr"
        )
        return ckpt.checkpoint(out.withColumn("dist", F.round("dist", 6)))
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register("ann_topk_pq_md5", _PQ_MD5_ORACLE)
def ann_topk_pq_md5_q(spark, sf_dir):
    """Product-quantization ANN under an EXACT oracle (net-new family,
    round 4): hash-sample codebooks (the 16 md5-ranked vectors sliced
    into 8 subspaces of dim 8) → per-subspace argmin encoding → ADC
    top-10.  The expr impl's sequential folds are bit-identical to the
    oracle's indexed-lambda ``list_sum`` (the ``first_pc_power``
    lesson), so encoding, distance tables, and rank boundaries all
    value-check; the production ``matmul`` kernel is parity-tested
    against expr in tests/test_pq.py."""
    from ..ops.pq import ann_topk_pq, pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, k_codes=16, quantizer="hash_sample")
    codes = pq_encode(emb, cb)
    out = ann_topk_pq(
        emb.where(F.col("vec_id") % 10 == 0), codes, cb, k=10, impl="expr"
    )
    return out.withColumn("dist", F.round("dist", 6))


# the matmul kernel computes the same distances as the expr path
# (parity-tested bit-for-bit at 9dp in tests/test_pq.py), so the
# production path shares the md5 oracle
@register("ann_topk_pq", _PQ_MD5_ORACLE)
def ann_topk_pq_q(spark, sf_dir):
    """The production PQ search kernel (broadcast queries + codebooks,
    codes scanned in place by mapInPandas, (m,k,Q) distance-table
    gather) against the same exact oracle as its expr twin."""
    from ..ops.pq import ann_topk_pq, pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, k_codes=16, quantizer="hash_sample")
    codes = pq_encode(emb, cb)
    out = ann_topk_pq(
        emb.where(F.col("vec_id") % 10 == 0), codes, cb, k=10, impl="matmul"
    )
    return out.withColumn("dist", F.round("dist", 6))


@register("ann_topk_ivfpq")
def ann_topk_ivfpq_q(spark, sf_dir):
    """IVF-PQ with the production quantizers (MLlib coarse KMeans +
    per-subspace residual KMeans codebooks) and the cogrouped numpy ADC
    kernel — stochastic fits → rows-only check; the hash-sample twin
    (`ann_topk_ivfpq_md5`) carries the exact oracle."""
    import shutil
    import tempfile

    from ..ops.pq import ann_topk_ivfpq, build_ivfpq_index

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivfpq_km_")
    try:
        build_ivfpq_index(emb, path, n_centroids=16, m=8, k_codes=16,
                          quantizer="kmeans")
        out = ann_topk_ivfpq(emb.where(F.col("vec_id") % 10 == 0), path, k=10, n_probe=4)
        return ckpt.checkpoint(out.withColumn("dist", F.round("dist", 6)))
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "ann_topk_ivfpq_indexed_md5",
    _IVFPQ_MD5_ORACLE.format(
        cos_iv=_COS_SQL.format(a="ix.v", b="c.cv"),
        cos_qv=_COS_SQL.format(a="q.v", b="c.cv"),
    ),
)
def ann_topk_ivfpq_indexed_md5_q(spark, sf_dir):
    """SEARCH-ONLY IVF-PQ: probes a PREBUILT persisted index under the
    temp directory — built on first call (deterministic hash-sample
    quantizers), reused afterwards, so the measured cost is the search
    kernel (static partition prune → cogrouped numpy ADC → scalar
    merge), not the build, as ``ann_topk_ivf_indexed`` does for IVF.
    The production ``matmul`` kernel runs under the same exact oracle as
    the expr twin (bit-parity tested in
    tests/test_pq.py::test_ivfpq_build_search_parity_and_pruning)."""
    import os

    from ..ops.pq import ann_topk_ivfpq, build_ivfpq_index

    emb = _t(spark, sf_dir, "embeddings")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = _derived_path(f"ivfpq_{sf_tag}")
    src = os.path.join(sf_dir, "embeddings.parquet")
    meta = dict(kind="ivfpq", n_centroids=16, m=8, k_codes=16, quantizer="hash_sample")
    if not _index_current(path, src, **meta):
        build_ivfpq_index(
            emb, path, n_centroids=16, m=8, k_codes=16, quantizer="hash_sample"
        )
        _write_index_manifest(path, src, **meta)
    out = ann_topk_ivfpq(emb.where(F.col("vec_id") % 10 == 0), path, k=10, n_probe=4)
    return out.withColumn("dist", F.round("dist", 6))


@register(
    "hdbscan_mst_stats",
    """
    WITH RECURSIVE pts AS (
      SELECT vec_id id, embedding v FROM embeddings WHERE vec_id < 40),
    dmat AS (
      SELECT a.id a, b.id b,
             sqrt(list_sum(list_transform(list_zip(a.v, b.v),
                   z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                        * (z[1]::DOUBLE - z[2]::DOUBLE)))) d
      FROM pts a JOIN pts b ON a.id <> b.id),
    core AS (
      SELECT a AS id, d AS core FROM (
        SELECT a, d, row_number() OVER (PARTITION BY a ORDER BY d ASC, b ASC) rk
        FROM dmat) WHERE rk = 2),
    mr AS (
      SELECT m.a, m.b, greatest(m.d, ca.core, cb.core) w
      FROM dmat m JOIN core ca ON ca.id = m.a JOIN core cb ON cb.id = m.b
      WHERE m.a < m.b),
    th AS (SELECT DISTINCT w AS t FROM mr),
    ed AS (SELECT a AS id, b AS nid, w FROM mr
           UNION ALL SELECT b, a, w FROM mr),
    reach AS (
      SELECT th.t, p.id, p.id AS lab FROM th CROSS JOIN pts p
      UNION
      SELECT r.t, e.id, r.lab
      FROM ed e JOIN reach r ON r.id = e.nid AND e.w <= r.t),
    comp AS (SELECT t, id, min(lab) lab FROM reach GROUP BY 1, 2),
    ccnt AS (SELECT t, count(DISTINCT lab) c FROM comp GROUP BY 1),
    steps AS (
      SELECT t, c,
             coalesce(lag(c) OVER (ORDER BY t ASC),
                      (SELECT count(*) FROM pts)) pc
      FROM ccnt)
    SELECT CAST((SELECT count(*) FROM pts) - (SELECT min(c) FROM ccnt) AS BIGINT)
             AS n_edges,
           CAST(sum(CAST(round(t * 1000000000) AS BIGINT) * (pc - c)) AS BIGINT)
             AS total_weight_nanos,
           CAST(round((SELECT min(t) FROM ccnt WHERE c = 1) * 1000000000)
                AS BIGINT) AS max_weight_nanos
    FROM steps
    """,
)
def hdbscan_mst_stats_q(spark, sf_dir):
    """EXACT partial oracle for the HDBSCAN pipeline (r4 verdict #8):
    the mutual-reachability Borůvka MST's invariants — edge count,
    total weight, and maximum edge weight (the dendrogram root level).
    All MSTs of a graph share the same sorted weight multiset, so these
    are engine-independent even under tie-broken edge choices; the
    oracle derives them WITHOUT building an MST, via the Kruskal
    integral: sorting the unique mutual-reachability weights t₁<t₂<…,
    the MST weight is Σ tₖ·(C(tₖ₋₁)−C(tₖ)) where C(t) is the component
    count of the ≤t threshold graph — per-threshold component counts
    come from one threshold-keyed recursive-CTE min-label closure (the
    ``dedup_components`` recipe keyed by t).  This value-checks the
    distance kernel, core distances, mutual-reachability max, and the
    whole distributed Borůvka loop; the condense/selection half stays
    covered by the fixed-point invariant tests."""
    from ..ops.clustering import boruvka_mst, mutual_reachability_edges

    emb = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 40)
        .selectExpr("vec_id as id", "embedding as vector")
    )
    edges = mutual_reachability_edges(emb, min_samples=3, id_col="id", vec_col="vector")
    mst = boruvka_mst(edges, edges.select("a").unionByName(edges.select(F.col("b").alias("a"))).distinct())
    # per-edge NANO-rounding before an order-free bigint sum: the raw
    # double sum groups additions differently here (per MST edge) and
    # in the oracle (Kruskal integral per threshold), and at sf0.1 the
    # 1-ulp difference flipped the 6th decimal.  Each edge weight is a
    # bit-identical double in both engines; its nano integer is
    # therefore exact, and integer sums are grouping-free.
    return mst.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.sum(F.round(F.col("w") * 1e9).cast("bigint"))
        .cast("bigint")
        .alias("total_weight_nanos"),
        F.round(F.max("w") * 1e9).cast("bigint").alias("max_weight_nanos"),
    )


@register("hdbscan_labels")
def hdbscan_labels_q(spark, sf_dir):
    """M14/M15 hierarchy closed (round-4): true HDBSCAN — mutual-
    reachability Borůvka MST (distributed) + condensed-tree excess-of-
    mass selection (driver, over the n-1 MST edges).  Iterative MST +
    hierarchical condensation are not SQL-expressible → rows-only
    check; label conventions verified against fixed 2-D points in
    tests/test_attr_clustering_eval.py (the hdbscan-library invariants
    the reference relies on)."""
    from ..ops.clustering import hdbscan_labels

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 120)
    return hdbscan_labels(
        emb, min_cluster_size=4, min_samples=3, id_col="vec_id", vec_col="embedding"
    )


_BM25_QUERIES = [(0, "spark join"), (1, "dup scan"), (2, "hash table window")]

# distinct non-empty terms per query — the same normalisation
# bm25_topk/coverage_topk apply Spark-side (a repeated or empty token
# in a query text must not double-count in the oracle)
_BM25_Q_VALUES = ", ".join(
    f"({qid}, '{t}')"
    for qid, text in _BM25_QUERIES
    for t in dict.fromkeys(tok for tok in text.split(" ") if tok)
)


_BM25_CTES = f"""
    tw AS (
      SELECT doc_id, token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> ''),
    dl AS (SELECT doc_id, count(*) dl FROM tw GROUP BY 1),
    st AS (SELECT count(*) n_docs, CAST(sum(dl) AS DOUBLE) sum_dl FROM dl),
    q(query_id, term) AS (VALUES {_BM25_Q_VALUES}),
    tf AS (SELECT doc_id, token AS term, count(*) tf FROM tw
           WHERE token IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) df FROM tf GROUP BY 1),
    sc AS (SELECT q.query_id, tf.doc_id,
                  CAST(round(1e6 * ln(1.0 + (CAST(st.n_docs AS DOUBLE) - dfreq.df + 0.5)
                                            / (dfreq.df + 0.5))
                             * (tf.tf * (1.2 + 1.0))
                             / (tf.tf + 1.2 * (1.0 - 0.75
                                + 0.75 * (dl.dl / (st.sum_dl / CAST(st.n_docs AS DOUBLE)))))
                       ) AS BIGINT) s
           FROM q JOIN tf ON q.term = tf.term
                  JOIN dfreq ON tf.term = dfreq.term
                  JOIN dl ON tf.doc_id = dl.doc_id, st),
    agg AS (SELECT query_id, doc_id, count(*) n_terms_matched,
                   CAST(sum(s) AS BIGINT) score_micro
            FROM sc GROUP BY 1, 2)"""


@register(
    "bm25_search",
    f"""
    WITH {_BM25_CTES},
    rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY score_micro DESC, doc_id) rank
           FROM agg)
    SELECT query_id, rank, doc_id, n_terms_matched,
           round(score_micro / 1e6, 6) AS score
    FROM rk WHERE rank <= 10
    """,
)
def bm25_search_q(spark, sf_dir):
    """BM25 top-10 keyword retrieval (Lucene k1/b parameterisation)
    over the document store — broadcast query vocabulary, df computed
    only for query terms, micro-nat integer score summation (shuffle-
    order-free), tie-safe rank window.  Net-new vs the reference
    (its token ops only BLOCK on shared tokens; ranked retrieval is the
    corpus-debugging counterpart)."""
    from ..ops.search import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_QUERIES, k=10)


@register(
    "rrf_search",
    f"""
    WITH {_BM25_CTES},
    bm AS (SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score_micro DESC, doc_id) rank
           FROM agg),
    cov AS (SELECT q.query_id, tf.doc_id, count(*) nt, min(dl.dl) dl
            FROM q JOIN tf ON q.term = tf.term
                   JOIN dl ON tf.doc_id = dl.doc_id
            GROUP BY 1, 2),
    cr AS (SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY nt DESC, dl ASC, doc_id) rank
           FROM cov),
    un AS (SELECT query_id, doc_id, CAST(round(1e9 / (60 + rank)) AS BIGINT) c
           FROM bm WHERE rank <= 20
           UNION ALL
           SELECT query_id, doc_id, CAST(round(1e9 / (60 + rank)) AS BIGINT) c
           FROM cr WHERE rank <= 20),
    fu AS (SELECT query_id, doc_id, count(*) n_rankers, CAST(sum(c) AS BIGINT) sn
           FROM un GROUP BY 1, 2),
    fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY sn DESC, doc_id) rank
           FROM fu)
    SELECT query_id, rank, doc_id, n_rankers, round(sn / 1e9, 6) AS score
    FROM fr WHERE rank <= 10
    """,
)
def rrf_search_q(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 top-20 and
    the boolean-coverage top-20 — the calibration-free ranker
    combination used to merge lexical and dense retrieval, with
    integer nano-unit score summation (engine-exact)."""
    from ..ops.search import bm25_topk, build_postings, coverage_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    # both rankers share one postings build — identical subtrees in the
    # fused plan collapse to ReusedExchange (corpus scanned once)
    p = build_postings(docs, _BM25_QUERIES)
    bm = bm25_topk(docs, _BM25_QUERIES, k=20, postings=p)
    cov = coverage_topk(docs, _BM25_QUERIES, k=20, postings=p)
    return rrf_fuse([bm, cov], k=10)


def _rbo_oracle(k: int = 10, p: float = 0.9) -> str:
    # CAST every weight literal to DOUBLE: DuckDB types bare decimal
    # literals as DECIMAL and the whole rbo expression would come back
    # decimal128 — a type-parity failure even with equal values
    w = [((1.0 - p) / p) * p**d / d for d in range(1, k + 1)]
    suffix = ", ".join(
        f"CAST({sum(w[m - 1:])!r} AS DOUBLE)" for m in range(1, k + 1)
    )
    tail = p**k / k
    return f"""
    WITH ra AS ({ORACLES["bm25_search"]}),
    rb AS ({ORACLES["rrf_search"]}),
    a AS (SELECT query_id, doc_id, rank r1 FROM ra WHERE rank <= {k}),
    b AS (SELECT query_id, doc_id, rank r2 FROM rb WHERE rank <= {k}),
    m AS (SELECT a.query_id, greatest(a.r1, b.r2) m
          FROM a JOIN b ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
    qs AS (SELECT DISTINCT query_id
           FROM (SELECT query_id FROM a UNION ALL SELECT query_id FROM b)),
    per AS (SELECT query_id, list(m ORDER BY m) ms FROM m GROUP BY query_id)
    SELECT qs.query_id,
           coalesce(len(ms), 0) AS x_k,
           round(coalesce(list_sum(list_transform(ms,
                   x -> list_extract([{suffix}], x))), CAST(0.0 AS DOUBLE))
                 + coalesce(len(ms), 0) * CAST({tail!r} AS DOUBLE), 6) AS rbo
    FROM qs LEFT JOIN per ON qs.query_id = per.query_id
    """


@register("rbo_rankers", _rbo_oracle())
def rbo_rankers_q(spark, sf_dir):
    """Rank-Biased Overlap (p=0.9, depth 10) between the BM25 ranking
    and the RRF-fused ranking per query — gold-free ranker agreement,
    with Python-precomputed weight literals (no runtime pow, libm-free
    exactness)."""
    from ..eval import rbo_overlap
    from ..ops.search import bm25_topk, build_postings, coverage_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    pb = build_postings(docs, _BM25_QUERIES)
    bm = bm25_topk(docs, _BM25_QUERIES, k=20, postings=pb)
    cov = coverage_topk(docs, _BM25_QUERIES, k=20, postings=pb)
    fused = rrf_fuse([bm, cov], k=10)
    return rbo_overlap(bm, fused, k=10, p=0.9)


def _hex12_to_int_sql(col: str) -> str:
    """Unrolled base-16 parse of a 12-char lowercase hex prefix — the
    DuckDB twin of Spark's ``conv(substring(md5, 1, 12), 16, 10)``."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1) * {16 ** (11 - i)}"
        for i in range(12)
    )


@register(
    "weighted_sample",
    f"""
    WITH h AS (SELECT doc_id, n_chars w,
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) hx
               FROM documents WHERE n_chars > 0),
    ui AS (SELECT doc_id, w, ({_hex12_to_int_sql("hx")}) u_int FROM h),
    ky AS (SELECT doc_id, w,
                  CAST(round(-ln((CAST(u_int AS DOUBLE) + 0.5) / 281474976710656.0)
                             / CAST(w AS DOUBLE) * 1e6) AS BIGINT) km
           FROM ui),
    rk AS (SELECT doc_id, w, km,
                  row_number() OVER (ORDER BY km, doc_id) rank
           FROM ky)
    SELECT doc_id, w, rank, round(km / 1e6, 6) AS es_key
    FROM rk WHERE rank <= 50
    """,
)
def weighted_sample_q(spark, sf_dir):
    """Efraimidis–Spirakis weighted sampling without replacement
    (weight = document length): seedless md5-derived uniforms, integer
    micro-unit sort keys, distributed TakeOrderedAndProject top-k."""
    from ..ops.curation import weighted_sample

    return weighted_sample(_t(spark, sf_dir, "documents"), "n_chars", k=50)


@register(
    "weighted_stratified_sample",
    f"""
    WITH h AS (SELECT source, lang, doc_id, n_chars w,
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) hx
               FROM documents WHERE n_chars > 0),
    ui AS (SELECT source, lang, doc_id, w, ({_hex12_to_int_sql("hx")}) u_int
           FROM h),
    ky AS (SELECT source, lang, doc_id, w,
                  CAST(round(-ln((CAST(u_int AS DOUBLE) + 0.5) / 281474976710656.0)
                             / CAST(w AS DOUBLE) * 1e6) AS BIGINT) km
           FROM ui),
    rk AS (SELECT source, lang, doc_id, w, km,
                  row_number() OVER (PARTITION BY source, lang
                                     ORDER BY km, doc_id) rank
           FROM ky)
    SELECT source, lang, doc_id, w, rank, round(km / 1e6, 6) AS es_key
    FROM rk WHERE rank <= 5
    """,
)
def weighted_stratified_sample_q(spark, sf_dir):
    """Per-(source, lang) A-ES weighted sampling — an exact weighted
    sample of 5 docs per stratum (the global variant over-draws the
    dominant stratum); same seedless md5 uniforms and micro-unit keys,
    ranked within strata."""
    from ..ops.curation import weighted_stratified_sample

    return weighted_stratified_sample(
        _t(spark, sf_dir, "documents"), ["source", "lang"], "n_chars", 5
    )


def _zinterleave_sql(xs: str, ys: str, bits: int) -> str:
    """Unrolled Morton interleave, identical shape to
    ``ops.layout._interleave``."""
    return " + ".join(
        f"((({xs} >> {i}) & 1) << {2 * i + 1}) + ((({ys} >> {i}) & 1) << {2 * i})"
        for i in range(bits)
    )


@register(
    "zorder_layout_stats",
    f"""
    WITH e AS (SELECT epoch_us(ts) x, user_id y FROM events
               WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    b AS (SELECT min(x) xmin, max(x) xmax, min(y) ymin, max(y) ymax FROM e),
    s AS (SELECT x, y,
                 CAST(floor((CASE WHEN xmax - xmin > 0
                             THEN CAST(x - xmin AS DOUBLE) / CAST(xmax - xmin AS DOUBLE)
                             ELSE 0.0 END) * 65535.0) AS BIGINT) xs,
                 CAST(floor((CASE WHEN ymax - ymin > 0
                             THEN CAST(y - ymin AS DOUBLE) / CAST(ymax - ymin AS DOUBLE)
                             ELSE 0.0 END) * 65535.0) AS BIGINT) ys
          FROM e, b),
    z AS (SELECT ({_zinterleave_sql("xs", "ys", 16)}) >> 22 AS zbin, x, y FROM s)
    SELECT zbin, CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y
    FROM z GROUP BY 1
    """,
)
def zorder_layout_stats_q(spark, sf_dir):
    """Z-order (Morton) layout audit over events (ts µs × user_id):
    per-bin bounding boxes for the top-10-bit key ranges — the
    write-time clustering layout (Delta/Iceberg OPTIMIZE ZORDER) that
    makes parquet min/max pruning work on BOTH dimensions at 100 TB.
    Pure integer/IEEE Catalyst expressions, one 1-row bounds broadcast,
    one ≤1024-group aggregate."""
    from ..ops.layout import zorder_bin_stats

    ev = load_events(spark, sf_dir).select(
        F.unix_micros("ts").alias("ts_us"), "user_id"
    )
    return zorder_bin_stats(ev, "ts_us", "user_id", bits=16, bin_bits=10)


