"""Corpus-curation operators for training-data pipelines — repetition
filters, connected-component canonical dedup, stratified sampling,
benchmark-contamination checks, and PII scrubbing.

These extend the dedup/text-stats family (``ops/dedup.py``,
``ops/textstats.py``) with the remaining steps a large-scale pretraining
pipeline runs between "raw crawl" and "training shards".  Everything is
pure DataFrame algebra with deterministic semantics so a DuckDB oracle
reproduces each result exactly.

Scale design (100 TB corpus):

- ``repetition_stats``: per-row expressions + one groupBy on
  ``(doc_id, bigram)`` — partial aggregation makes the shuffle carry
  only per-doc distinct bigrams; no joins besides the final per-doc
  left join which co-partitions on ``doc_id``.
- ``connected_components``: iterated min-label propagation (the
  GraphX/Pregel shape, same kernel as ``ops/clustering.dbscan_labels``);
  rounds bounded by component diameter — near-dup graphs are
  shallow (dup clusters are dense), so a handful of rounds.  Each round
  is one shuffle join + one aggregate on the edge list, never the
  corpus.  For adversarially deep graphs swap in the
  large-star/small-star contraction (Kiveris et al., "Connected
  Components in MapReduce"), which converges in O(log n) rounds on the
  same join-agg primitive.
- ``canonical_dedup``: components are computed on the *pair list*
  (orders of magnitude smaller than the corpus); the corpus is touched
  once by a left join on ``doc_id``.
- ``stratified_sample``: one window per stratum — a single hash
  shuffle on the strata columns; no global sort, no driver state.
  Deterministic (md5-ordered) so re-runs and engines agree.
- ``contamination_check``: the benchmark n-gram set is tiny (eval
  suites, not corpora) — broadcast semi-join against it; the corpus
  side streams map-side with no shuffle beyond the per-doc count.
- ``pii_scrub``: pure per-row regex expressions — whole-stage codegen,
  zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import ckpt
from ..functions.text import tokenize, word_shingles

__all__ = [
    "repetition_stats",
    "connected_components",
    "canonical_dedup",
    "stratified_sample",
    "contamination_check",
    "pii_scrub",
    "unigram_logprob_quality",
    "dsir_importance",
    "pack_sequences",
    "vocab_coverage",
    "corpus_rollup",
    "duplicated_span_stats",
    "remove_duplicated_spans",
    "temperature_mix",
    "weighted_stratified_sample",
    "token_budget_mix",
    "line_dedup",
    "gopher_rules",
    "GOPHER_STOPWORDS",
    "bigram_logprob_quality",
    "chunk_documents",
]


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 128,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token-window chunks with optional
    overlap — the context-window preparation step every RAG/embedding/
    long-document pipeline runs before encoding.

    Chunk ``i`` covers tokens ``[i·stride, i·stride + chunk_size)``
    with ``stride = chunk_size − overlap``; the last chunk may be
    short, and a trailing window that would start at-or-past the end
    of the document is not emitted (every chunk holds ≥ 1 new token).
    Tokens are whitespace units (empties dropped), rejoined by single
    spaces — byte-exact round-trip is NOT the goal, deterministic
    windows are.

    Output: ``(doc_id, chunk_idx, n_tokens, chunk_text)``, one row per
    chunk, ``chunk_idx`` 0-based.

    Scale shape: one stateless projection + ``explode`` of a
    per-document ``sequence`` — no shuffle, no UDF; a 100 TB corpus
    chunks at scan speed and the output is already partitioned like
    the input.  Empty/whitespace-only docs yield no chunks.
    """
    if chunk_size < 1:
        raise ValueError("chunk_size must be >= 1")
    if not (0 <= overlap < chunk_size):
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("tk")
    ).withColumn("n", F.size("tk"))
    # chunk starts: 0, stride, 2·stride, … strictly below n
    n_chunks = F.when(
        F.col("n") <= 0, F.lit(0)
    ).otherwise(F.floor((F.col("n") - 1) / stride) + 1)
    out = (
        base.where(F.col("n") > 0)
        .select(
            "doc_id",
            "tk",
            "n",
            F.explode(F.sequence(F.lit(0), n_chunks.cast("int") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.slice(
                F.col("tk"), F.col("chunk_idx") * stride + 1, chunk_size
            ).alias("chunk"),
        )
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("bigint").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_token_frac: float = 0.55,
    max_top_bigram_frac: float = 0.10,
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    table A1 — duplicate-token and repeated-n-gram fractions, adapted to
    single-line docs: token-level instead of line-level).

    Output: ``(doc_id, n_tokens, dup_token_frac, top_bigram_frac,
    dup_bigram_frac, keep)`` where

    - ``dup_token_frac`` = 1 − distinct/total tokens,
    - ``top_bigram_frac`` = occurrences of the most frequent bigram /
      total bigrams (0 for docs with <2 tokens),
    - ``dup_bigram_frac`` = occurrences belonging to bigrams seen more
      than once / total bigrams,
    - ``keep`` = 1 iff both thresholds pass — the filter decision a
      pipeline would apply.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("tk")
    )
    n = F.size("tk")
    base = toks.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(1.0 - F.size(F.array_distinct("tk")) / n, 6).alias("dup_token_frac"),
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.expr("transform(sequence(0, size(tk)-2), i -> concat(tk[i], ' ', tk[i+1]))"),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("top"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
    )
    top_frac = F.coalesce(F.col("top") / F.col("total"), F.lit(0.0))
    dup_frac = F.coalesce(F.col("dup") / F.col("total"), F.lit(0.0))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        # when(...).otherwise(0), not bool.cast(int): NULL text must
        # yield keep=0 like the oracle's CASE, not propagate NULL
        F.when(
            (F.col("dup_token_frac") <= max_dup_token_frac)
            & (top_frac <= max_top_bigram_frac),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )


@ckpt.scope()
def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    vertices: DataFrame | None = None,
    algorithm: str = "propagation",
    local_threshold: int = 100_000,
) -> DataFrame:
    """Connected components of an undirected graph given as an edge
    list.  Output: ``(id, label)`` for every vertex incident to an
    edge (self-loops count as incidence), ``label`` = smallest vertex
    id in the component (deterministic, engine-independent).

    ``vertices`` (optional, single-column) overrides the labeled vertex
    set — for callers like DBSCAN whose vertex universe includes
    edge-free points.

    Algorithms (identical output, different round complexity):

    - ``"propagation"`` (default): min-label propagation to fixpoint —
      each round every vertex adopts the minimum label in its closed
      neighborhood (one join + one aggregate, ``localCheckpoint``
      truncates lineage).  Rounds are bounded by the component
      DIAMETER — right for near-dup graphs, whose clusters are dense
      and shallow.
    - ``"star"``: alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14) — converges in O(log n) rounds regardless of diameter,
      the choice for adversarially deep graphs (long chains) at scale.
      Each round is one neighbor aggregate + one join on the current
      edge set.

    Both raise if ``max_iter`` rounds don't converge rather than
    silently splitting a component.

    ``local_threshold``: when the edge list holds at most this many
    rows it is collected and solved with driver-side union-find in one
    pass — the same documented bounded-collect contract as the MST
    condensation (``ops/clustering.py``; the reference itself clusters
    driver-side, ``blockers/attribute_clustering.py:18-21``).  100 k
    edges is a few MB on the driver; the iterative rounds each cost a
    full distributed job, so below the threshold the loop is pure
    scheduling overhead (measured: 8 rounds x ~0.6 s for a 90-edge
    ε-graph).  The edge count is read off the caller-persisted (or
    just-checkpointed) frame.  Pass ``0`` to force the distributed
    path — the convergence guard only applies there, since union-find
    has no rounds to bound.
    """
    pairs = edges.select(F.col(src).alias("id"), F.col(dst).alias("nid"))
    if vertices is None:
        # The edge frame has TWO consumers here (vertex derivation +
        # the undirected/star view): materialize it once — upstream
        # pair generation (e.g. the PPJoin) is far too expensive to run
        # per consumer (measured 2x the whole query at sf0.1).  With an
        # explicit vertices= the edge frame is consumed once and the
        # caller (e.g. DBSCAN) typically persists it already — no copy.
        pairs = ckpt.checkpoint(pairs)
        # vertex set BEFORE dropping self-loops: a vertex whose only
        # edge is (v, v) is still incident to an edge
        ids = pairs.select("id").unionByName(pairs.select(F.col("nid").alias("id"))).distinct()
    else:
        ids = vertices.select(F.col(vertices.columns[0]).alias("id")).distinct()
    if local_threshold:
        # one bounded action: a limit-probe collects at most
        # threshold+1 rows (LocalLimit stops scanning once filled), so
        # deciding "small enough?" never pays a full count of a huge
        # edge frame
        probe = pairs.limit(local_threshold + 1).collect()
        if len(probe) <= local_threshold:
            ckpt.keep(pairs)  # the lazy labels read ids, derived from pairs
            return _local_components(probe, ids)
    if algorithm == "star":
        ckpt.keep(pairs)  # as above
        return _star_components(pairs, ids, max_iter)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    # loop-invariant adjacency: cached pre-partitioned on the per-round
    # join key (r12, the pagerank lesson — a bare persist keeps
    # whatever upstream layout existed and the label join re-shuffles
    # |E| every round under SortMergeJoin; the cached hash layout
    # joins exchange-free)
    spark = edges.sparkSession
    try:
        part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        part = spark.sparkContext.defaultParallelism
    und = ckpt.persist(
        pairs.unionByName(pairs.select(F.col("nid").alias("id"), F.col("id").alias("nid")))
        .where(F.col("id") != F.col("nid"))
        .distinct()
        .repartition(part, "nid")
    )
    labels = ids.withColumn("label", F.col("id"))
    converged = False
    for _ in range(max_iter):
        neigh = und.join(labels.withColumnRenamed("id", "nid"), "nid").select("id", "label")
        new_labels = ckpt.checkpoint(
            labels.unionByName(neigh)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        ckpt.release(labels)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"within max_iter={max_iter} rounds; raise max_iter (component "
            f"diameter exceeds the bound)"
        )
    return ckpt.keep(labels)


def _local_components(rows, ids: DataFrame) -> DataFrame:
    """Driver-side union-find over a collected ``(id, nid)`` edge list
    (the sub-``local_threshold`` fast path).  Union-by-min keeps each
    tree's root at the smallest member id, so ``find`` yields exactly
    the distributed algorithms' label; vertices with no edge keep
    their own id via the outer join against ``ids``.

    Parity details (r10 ADVICE): null endpoints are skipped — the
    distributed paths' joins never see them either; string ids compare
    by their UTF-8 byte encoding, the order Spark's ``UTF8String``
    (and hence ``F.min``) uses, rather than trusting Python's ``<`` —
    for well-formed text the two agree (UTF-8 byte order IS code-point
    order), but lone surrogates round-trip differently, and being
    explicit makes both paths provably label identically."""
    parent: dict = {}

    def _min_key(x):
        return x.encode("utf-8", "surrogatepass") if isinstance(x, str) else x

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        if r[0] is None or r[1] is None:
            continue
        a, b = find(r[0]), find(r[1])
        if a != b:
            if _min_key(b) < _min_key(a):
                a, b = b, a
            parent[b] = a
    spark = ids.sparkSession
    id_type = ids.schema[0].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("id", id_type), StructField("label", id_type)]
    )
    lab = spark.createDataFrame(
        [(x, find(x)) for x in parent], schema
    )
    return ids.join(F.broadcast(lab), "id", "left").select(
        "id", F.coalesce("label", F.col("id")).alias("label")
    )


def _star_components(pairs: DataFrame, ids: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.
    SoCC'14).  ``pairs``: raw ``(id, nid)`` edges; ``ids``: vertex set
    to label.  Returns ``(id, label)``.

    Each round: large-star hangs every vertex's larger neighbors off
    the minimum of its closed neighborhood (processed from the
    bidirectional view), then small-star re-hangs the smaller ones;
    stable fixpoints are exactly per-component stars centered at the
    minimum vertex, reached in O(log n) rounds.  Edges are kept
    canonical ``(hi, lo)`` so set-equality is the convergence test.
    """
    e = ckpt.checkpoint(
        pairs.where(F.col("id") != F.col("nid"))
        .select(F.greatest("id", "nid").alias("hi"), F.least("id", "nid").alias("lo"))
        .distinct()
    )
    converged = False
    for _ in range(max_iter):
        # large-star: from each vertex u's closed neighborhood minimum
        # m, emit (v, m) for neighbors v > u (bidirectional view)
        nb = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m = nb.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", F.col("u")).alias("m")
        )
        large = (
            nb.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: on the now hi→lo directed edges, re-hang each
        # vertex's smaller neighbors (and itself) off the minimum
        m2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        emit = (
            large.join(m2, "hi")
            .select(F.col("lo").alias("a"), F.col("m").alias("b"))
            .unionByName(m2.select(F.col("hi").alias("a"), F.col("m").alias("b")))
        )
        new_e = ckpt.checkpoint(
            emit.where(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo"))
            .distinct()
        )
        same = new_e.count() == e.count() and new_e.subtract(e).count() == 0
        ckpt.release(e)
        e = new_e
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components(star): did not converge within "
            f"max_iter={max_iter} rounds; raise max_iter"
        )
    star = ckpt.keep(e).select(F.col("hi").alias("id"), F.col("lo").alias("label"))
    return ids.join(star, "id", "left").select(
        "id", F.coalesce("label", F.col("id")).alias("label")
    )


def canonical_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
    algorithm: str = "propagation",
    priority_col: str | None = None,
) -> DataFrame:
    """Resolve near-duplicate *pairs* into per-document canonical
    assignments: the transitive closure of the pair graph, each doc
    mapped to its cluster's canonical survivor.

    ``priority_col=None``: the survivor is the smallest id (the
    engine's deterministic default).  With ``priority_col`` naming a
    numeric column of ``docs`` (a quality score, a length, a source
    rank), the survivor is the cluster member with the HIGHEST
    priority, ties by smallest id — "keep the best copy, not the
    first" — the policy production curation pipelines actually want
    when duplicates differ in quality.  One extra aggregate + one
    broadcast-friendly join over the (tiny) cluster-survivor table;
    the closure itself is unchanged.

    Output: ``(doc_id, canonical_id, is_duplicate)`` over the FULL
    corpus — docs in no pair map to themselves; ``is_duplicate`` = 1
    marks rows a dedup pipeline would drop (keep rows where
    ``doc_id = canonical_id``).
    """
    comp = connected_components(pairs, *pair_cols, algorithm=algorithm).withColumnRenamed(
        "id", id_col
    )
    if priority_col is not None:
        # per-cluster argmax(priority, tie min id): structs compare
        # lexicographically, so max((priority, -id)) is one map-side-
        # partial aggregate — no window over the cluster
        member = comp.withColumnRenamed(id_col, "doc_id").join(
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.col(priority_col).cast("double").alias("_prio"),
            ),
            "doc_id",
        )
        best = (
            member.groupBy("label")
            .agg(
                F.max(
                    F.struct(F.col("_prio"), (-F.col("doc_id")).alias("_nid"))
                ).alias("_b")
            )
            .select("label", (-F.col("_b._nid")).alias("_survivor"))
        )
        comp = (
            member.select("doc_id", "label")
            .join(best, "label")
            .select("doc_id", F.col("_survivor").alias("label"))
        )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed(id_col, "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("canonical_id"),
        )
        .withColumn("is_duplicate", (F.col("canonical_id") != F.col("doc_id")).cast("int"))
    )


def stratified_sample(
    docs: DataFrame,
    strata: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: up to ``n_per_stratum`` rows
    per distinct combination of ``strata``, chosen by md5-hash order of
    the id (uniform, seedless, reproducible on any engine).

    Output: ``(doc_id, *strata, rk)`` with ``rk`` the 1-based rank
    within the stratum.  One shuffle on the strata columns; no global
    sort.  The md5 tie-breaks on the raw id so equal-hash collisions
    (practically impossible) stay deterministic.
    """
    w = Window.partitionBy(*strata).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_per_stratum)
        .select(F.col(id_col).alias("doc_id"), *strata, "rk")
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    exponential-sort / A-ES): the classic one-pass distributed
    algorithm — each row draws a uniform ``u`` and the ``k`` smallest
    ``-ln(u) / w`` keys form an exact weighted sample.  The pipeline
    use is importance-weighted subcorpus selection (e.g. ``w`` =
    token count, or exp of a DSIR log-ratio).

    Deterministic and seedless: ``u`` is derived from the first 12 hex
    digits of ``md5(id)`` (a 48-bit uniform any engine reproduces;
    ``+0.5`` keeps it strictly inside (0, 1)), and the sort key is
    rounded to integer **micro-units** so ranking is bit-stable with a
    ``(key, id)`` total tie-break.

    Output: ``(doc_id, w, rank, es_key)``, ``rank`` 1..k by ascending
    key.  Rows with ``w <= 0`` are excluded (zero-weight rows cannot be
    sampled; ``-ln(u)/w`` is undefined).

    Scale: one global top-k — Spark's ``row_number`` over an empty
    partitionBy is a single-reducer sort, so this uses the two-phase
    form: per-partition top-k (mapInArrow-free: a partition-local sort
    is what ``Window`` over a constant does after AQE coalesce) is not
    needed because the key computation is map-side and the final sort
    only materialises k rows via ``orderBy(...).limit(k)`` — Spark
    executes that as a distributed TakeOrderedAndProject (per-partition
    top-k + driver merge of k·P rows), not a global sort.
    """
    u_int = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    u = (u_int.cast("double") + 0.5) / float(1 << 48)
    w = F.col(weight_col).cast("double")
    key_micro = F.round(-F.log(u) / w * 1e6).cast("bigint")
    top = (
        docs.where(F.col(weight_col) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(weight_col).alias("w"),
            key_micro.alias("key_micro"),
        )
        .orderBy(F.col("key_micro").asc(), F.col("doc_id").asc())
        .limit(k)
    )
    wr = Window.orderBy(F.col("key_micro").asc(), F.col("doc_id").asc())
    return top.select(
        "doc_id",
        "w",
        F.row_number().over(wr).alias("rank"),
        F.round(F.col("key_micro") / 1e6, 6).alias("es_key"),
    )


def weighted_stratified_sample(
    docs: DataFrame,
    strata: list[str],
    weight_col: str,
    k_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum weighted sampling without replacement — the A-ES
    keys of :func:`weighted_sample` ranked WITHIN each stratum (the
    :func:`stratified_sample` quota): an exact weighted sample of
    ``k`` docs per (source, lang, …) cell, the shape a curation run
    actually needs (the global variant over-draws the dominant
    stratum).

    Deterministic and seedless (same md5-uniform, micro-unit key,
    ``(key, id)`` tie-break).  Output: strata cols + ``(doc_id, w,
    rank, es_key)``, ``rank`` 1..k within each stratum.

    Scale: key computation is map-side; the per-stratum top-k is a
    rank window PARTITIONED by the strata (parallel across strata;
    one stratum dominating the corpus makes its partition hot — the
    same profile as every grouped top-k here, AQE-covered).
    """
    u_int = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    u = (u_int.cast("double") + 0.5) / float(1 << 48)
    w = F.col(weight_col).cast("double")
    key_micro = F.round(-F.log(u) / w * 1e6).cast("bigint")
    wr = Window.partitionBy(*strata).orderBy(
        F.col("key_micro").asc(), F.col("doc_id").asc()
    )
    return (
        docs.where(F.col(weight_col) > 0)
        .select(
            *strata,
            F.col(id_col).alias("doc_id"),
            F.col(weight_col).alias("w"),
            key_micro.alias("key_micro"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k_per_stratum)
        .select(
            *strata,
            "doc_id",
            "w",
            "rank",
            F.round(F.col("key_micro") / 1e6, 6).alias("es_key"),
        )
    )


def contamination_check(
    docs: DataFrame,
    benchmark_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Benchmark-contamination scan: for every non-benchmark document,
    the fraction of its distinct ``shingle_k``-gram set that appears
    anywhere in the benchmark partition (the standard n-gram-overlap
    decontamination test run before training).

    ``benchmark_filter`` is a boolean Column selecting benchmark rows
    inside ``docs`` (e.g. ``F.col("source") == "eval_suite"``).

    Output: ``(doc_id, n_ngrams, n_contaminated, contamination)``.

    The benchmark n-gram set is tiny relative to the corpus, so it is
    broadcast and the corpus-side semi-join is map-side — the only
    shuffle is the per-doc hit count on ``doc_id``.
    """
    sh = ckpt.persist(
        docs.select(
            F.col(id_col).alias("doc_id"),
            benchmark_filter.alias("is_bench"),
            tokenize(text_col, 1, []).alias("tk"),
        )
        .select(
            "doc_id",
            "is_bench",
            F.array_distinct(word_shingles(F.col("tk"), shingle_k)).alias("sh"),
        )
        # the shingled frame feeds BOTH the benchmark set and the eval
        # side, and shingling is the dominant cost of the whole query
        # (array transform + slice-concat per doc; measured 4-5x the
        # rest at sf0.1) — a LAZY persist materializes it once at
        # first execution with no construction-time job; blocks are
        # MEMORY_AND_DISK (disk-backed at corpus scale) and freed by
        # the caller's scope
    )
    # one pass per side: benchmark rows shingle once into the broadcast
    # set; eval rows shingle once, carrying their set size through the
    # explode so hits and sizes come out of a single aggregate (no
    # second consumer → no persist/checkpoint needed, plan stays lazy)
    bench = (
        sh.where("is_bench")
        .select(F.explode("sh").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # zero-shingle docs (empty/token-free text) have nothing to check —
    # excluded like the oracle's group-by-of-no-rows (avoids 0/0 rows)
    ev = sh.where(~F.col("is_bench") & (F.size("sh") > 0)).select(
        "doc_id", F.size("sh").alias("n_ngrams"), F.explode("sh").alias("shingle")
    )
    return (
        ev.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_ngrams").alias("n_ngrams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_ngrams"), 6).alias("contamination"),
        )
    )


PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_NUMBER_RE = r"[0-9]{4,}"


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII redaction: emails → ``<EMAIL>``, long digit runs (phone /
    SSN / card shaped, ≥4 digits) → ``<NUM>``, with per-doc redaction
    counts for pipeline auditing.

    Output: ``(doc_id, clean_text, n_emails, n_numbers)``.  Emails are
    redacted first so their digit substrings aren't double-counted;
    ``n_numbers`` counts matches in the email-redacted text.  Pure
    regex expressions — codegen'd, shuffle-free, trivially scalable.
    The patterns are RE2-compatible (no backrefs/lookaround) so any
    engine's regex dialect reproduces them.
    """
    no_email = F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_replace(no_email, PII_NUMBER_RE, "<NUM>").alias("clean_text"),
        F.regexp_count(F.col(text_col), F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(no_email, F.lit(PII_NUMBER_RE)).alias("n_numbers"),
    )


@ckpt.scope()
def unigram_logprob_quality(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style LM quality score: mean token log-probability under
    the corpus's own unigram distribution (the deterministic stand-in
    for a KenLM perplexity filter — low scores flag gibberish /
    out-of-distribution docs).

    Output: ``(doc_id, n_tokens, avg_logprob)``.

    Determinism: per-occurrence log-probs are rounded to integer
    **micro-nats** and summed as bigints — integer addition is
    order-free, so the result is bit-identical on any engine and any
    partitioning (a double sum would be shuffle-order-dependent).

    Scale: the unigram table is vocabulary-sized → broadcast; the
    corpus side is explode → map-side join → one ``doc_id`` shuffle
    with partial aggregation.
    """
    # persist: toks feeds the total count, the frequency table, and the
    # probe side of the join — three scans of the explode otherwise
    toks = ckpt.persist(
        docs.select(
            F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("token")
        ).where(F.col("token") != "")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = toks.count()
    lp = freq.select(
        "token",
        F.round(F.log(F.col("c") / F.lit(float(total))) * 1e6)
        .cast("bigint")
        .alias("lp_micro"),
    )
    out = ckpt.checkpoint(
        toks.join(F.broadcast(lp), "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("lp_micro").alias("s"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("s") / (F.lit(1e6) * F.col("n_tokens")), 6).alias("avg_logprob"),
        )
    )
    return ckpt.keep(out)


@ckpt.scope()
def dsir_importance(
    docs: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", with unigram
    features): per-document log importance ratio between the *target*
    distribution (rows selected by ``target_filter``, e.g. a trusted
    high-quality slice) and the overall corpus distribution, add-one
    smoothed over the corpus vocabulary.

    Output: ``(doc_id, n_tokens, log_ratio)`` for non-target docs —
    resample the corpus ∝ ``exp(log_ratio)`` to tilt it toward the
    target domain.

    Same integer micro-nat summation as ``unigram_logprob_quality`` for
    order-free exactness; both distribution tables are vocabulary-sized
    broadcasts.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        target_filter.alias("is_target"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")
    toks = ckpt.persist(toks)
    all_freq = toks.groupBy("token").agg(
        F.count("*").alias("c_all"),
        F.sum(F.col("is_target").cast("bigint")).alias("c_tgt"),
    )
    totals = toks.agg(
        F.count("*").alias("n_all"),
        F.sum(F.col("is_target").cast("bigint")).alias("n_tgt"),
        F.count_distinct("token").alias("v"),
    ).collect()[0]
    n_all, n_tgt, vocab = totals["n_all"], totals["n_tgt"], totals["v"]
    if not n_all:
        # empty / all-whitespace corpus: the aggregate returns NULL
        # totals — return an empty frame instead of a TypeError
        return (
            docs.select(F.col(id_col).alias("doc_id"))
            .where(F.lit(False))
            .withColumn("n_tokens", F.lit(0).cast("bigint"))
            .withColumn("log_ratio", F.lit(0.0))
        )
    w = all_freq.select(
        "token",
        F.round(
            (
                F.log((F.col("c_tgt") + 1) / F.lit(float(n_tgt + vocab)))
                - F.log((F.col("c_all") + 1) / F.lit(float(n_all + vocab)))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    out = ckpt.checkpoint(
        toks.where(~F.col("is_target"))
        .join(F.broadcast(w), "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("w_micro").alias("s"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("s") / F.lit(1e6), 6).alias("log_ratio"),
        )
    )
    return ckpt.keep(out)


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_groups: int = 16,
) -> DataFrame:
    """Deterministic sequence packing: concatenate documents in
    md5-hash order and chunk the stream into ``budget``-token training
    sequences — the "concat-and-chunk" sharding every LLM pretraining
    pipeline runs last.

    Documents are first salted into ``n_groups`` independent pack
    groups by an md5 prefix, then packed *within* each group: the plan
    is one hash shuffle + per-group sort, never a global sort, so
    groups pack in parallel on a cluster (at 100 TB raise ``n_groups``
    to ~10× the executor count; determinism is unaffected because the
    group id and the order inside it derive only from content ids).

    Output: ``(doc_id, pack_group, n_tokens, start_offset, bin_id)``
    with ``start_offset`` the token offset of the doc inside its
    group's concatenated stream and ``bin_id = start_offset // budget``
    the training-sequence index the doc starts in.
    """
    h = F.md5(F.col(id_col).cast("string"))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        # 8 hex chars = 32 hash bits: keeps group sizes uniform for any
        # realistic n_groups (4 chars would skew ~17% at n_groups=10k
        # and cap the group count at 65536)
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % n_groups).alias("pack_group"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens"),
        h.alias("h"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.select(
        "doc_id",
        "pack_group",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start_offset"),
    ).withColumn("bin_id", F.floor(F.col("start_offset") / budget))


@ckpt.scope()
def vocab_coverage(
    docs: DataFrame,
    vocab_size: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage / OOV analysis: build the top-``vocab_size``
    corpus vocabulary (by frequency, ties by token), then measure each
    document's out-of-vocabulary token rate — the standard check that a
    tokenizer/vocab fits a corpus before training.

    Output: ``(doc_id, n_tokens, n_oov, oov_rate)``.

    The vocabulary is tiny by construction → broadcast left join with a
    membership marker; one shuffle on ``doc_id`` for the counts.
    """
    # persist: toks feeds the frequency build AND the probe side
    toks = ckpt.persist(
        docs.select(
            F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("token")
        ).where(F.col("token") != "")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("c"))
    # orderBy().limit() compiles to TakeOrderedAndProject — distributed
    # partial top-k per partition, never a single-partition window sort
    # over the whole frequency table; the (c desc, token asc) total
    # order keeps the cut deterministic
    vocab = (
        freq.orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(vocab_size)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    out = ckpt.checkpoint(
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )
    return ckpt.keep(out)


def corpus_rollup(
    docs: DataFrame,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-slice corpus report: doc counts, token totals, BPE-pre-token
    totals, tokenizer fertility (BPE / whitespace tokens — the metric
    tokenizer papers report per language), and mean doc length — the
    rollup a pipeline dashboard shows per (source, lang).

    Output: ``(*group_cols, n_docs, n_ws_tokens, n_bpe_tokens,
    fertility, mean_chars)``.  All inputs to the doubles are integer
    sums, so results are shuffle-order-free.  One partial-aggregated
    shuffle on the group keys.
    """
    from .textstats import bpe_token_count, ws_token_count

    group_cols = group_cols or ["source", "lang"]
    return (
        docs.select(
            *group_cols,
            ws_token_count(text_col).alias("ws"),
            bpe_token_count(text_col).alias("bpe"),
            F.length(text_col).alias("chars"),
        )
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws").alias("n_ws_tokens"),
            F.sum("bpe").alias("n_bpe_tokens"),
            F.round(F.sum("bpe") / F.sum("ws"), 6).alias("fertility"),
            F.round(F.sum("chars") / F.count("*"), 6).alias("mean_chars"),
        )
    )


@ckpt.scope()
def duplicated_span_stats(
    docs: DataFrame,
    span_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the substring-dedup
    criterion, approximated at ``span_k``-gram granularity): for each
    document, the fraction of its distinct ``span_k``-token spans that
    also occur in at least one OTHER document.  Doc-level dedup misses
    these (boilerplate headers, quoted passages inside otherwise-unique
    docs); pipelines cut or rewrite docs above a span-dup threshold.

    Output: ``(doc_id, n_spans, n_dup_spans, dup_span_frac)``.

    Plan: one shingle explode → span df via ``groupBy`` count +
    join-back (spans are distinct per doc, so ``count(*)`` per span IS
    the df).  r10 shape change: this was a span-partitioned count
    WINDOW — one shuffle, but a corpus-wide boilerplate span funnels
    its ENTIRE occurrence set through one un-splittable window task
    (AQE skew handling applies to JOINS only, never windows).  The
    groupBy's partial aggregation absorbs the hot span map-side, the
    count table is one row per distinct span, and the join-back is
    AQE-skew-splittable.  No driver state, no broadcast of
    corpus-scale data.

    r12 (closes the r11 ``weak`` flag): the tokenize + ``span_k``-gram
    shingle explode is the same CPU-per-row-not-per-byte shape as a
    Python kernel — Spark sized the sf0.1 documents table (one 584 KB
    part file) as ONE scan task and serialized the whole explode on a
    single core, so the row's wall time was 1-core CPU plus whatever
    the io dimension added.  ``widen_for_kernel`` on the doc
    projection fixes it: measured 14.5-16.2 s → 8.6-9.5 s interleaved
    A/B at sf0.1 (NOTES round-12); a wide lake scan passes through
    untouched.
    """
    from ..session import widen_for_kernel

    sh = widen_for_kernel(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"), tokenize(text_col, 1, []).alias("tk")
    ).select(
        "doc_id", F.array_distinct(word_shingles(F.col("tk"), span_k)).alias("sh")
    )
    # the empty-string whole-doc shingle of token-free docs would make
    # all such docs "duplicates" of each other — not content overlap
    #
    # persist: the span table fans out into TWO consumers (the span-df
    # aggregate and the join-back), and the exchanges they need differ
    # (partial-agg below one, none below the other) so ReusedExchange
    # never fires — without the cache the widen → tokenize → shingle →
    # explode chain executes twice (r12 A/B at sf0.1: 6.0-6.6 s →
    # 4.3-4.7 s warm).  Released after the result materializes (the
    # dedup cache contract).
    spans = ckpt.persist(
        sh.select("doc_id", F.explode("sh").alias("span"))
        .where(F.col("span") != "")
    )
    span_df = spans.groupBy("span").agg(F.count("*").alias("df"))
    out = ckpt.checkpoint(
        spans.join(span_df, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_span_frac"),
        )
    )
    return ckpt.keep(out)


def remove_duplicated_spans(
    docs: DataFrame,
    span_k: int = 10,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REMOVAL companion of :func:`duplicated_span_stats` — the
    actual substring-dedup transform of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), at ``span_k``-token
    granularity: every token covered by a whitespace ``span_k``-gram
    whose corpus-wide occurrence count is ≥ ``min_df`` is dropped, and
    the document is reassembled from the survivors.  All occurrences
    are removed (boilerplate vanishes entirely rather than surviving in
    one arbitrary document) — deterministic, documented semantics.

    Tokens are raw whitespace splits (NOT the lowercasing
    ``tokenize``): reconstruction must preserve the original text of
    surviving tokens.  Docs shorter than ``span_k`` tokens pass through
    untouched; a fully-covered doc comes back with ``n_after = 0`` and
    empty text (filter those downstream).

    Output: ``(doc_id, n_before, n_after, clean_text)``.

    Plan: positional spans → duplicated-span set via ``groupBy`` count
    + semi-join (r10 shape change from a count window: AQE skew-split
    applies to JOINS only, so the corpus-wide boilerplate span that
    used to funnel through one window task now rides a splittable
    semi-join, with the hot span absorbed map-side by the count's
    partial aggregation) → covered-index explode (``k`` rows per
    duplicated span only) → anti-join → ordered reassembly via
    ``sort_array(collect_list(struct(pos, tok)))`` (shuffle-order-free).
    No driver state; the downstream explode is proportional to
    duplicated positions only.  The doc input is widened first — same
    1-task-explode fix as :func:`duplicated_span_stats` (r12).
    """
    from ..session import widen_for_kernel

    base = widen_for_kernel(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("tk")
    )
    tokens = base.select(
        "doc_id",
        F.posexplode("tk").alias("i0", "tok"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    # docs shorter than span_k emit no spans via the clamped slice
    # alone — the row filter this replaces would be pushed below the
    # projection and re-evaluate the split per row (r12)
    spans = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(slice(tk, 1, greatest(size(tk) - {span_k - 1}, 0)),"
                f" (x, i) -> array_join(slice(tk, i + 1, {span_k}), ' '))"
            )
        ).alias("i0", "span"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "span")
    dup_spans = (
        spans.groupBy("span")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_df)
        .select("span")
    )
    # covered carries RENAMED keys: both sides descend from the same
    # base lineage, and same-name equality predicates on a self-join
    # resolve ambiguously (Spark warns "trivially true equals")
    covered = (
        spans.join(dup_spans, "span", "left_semi")
        .select(
            F.col("doc_id").alias("cov_doc"),
            F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(span_k - 1))).alias("j"),
        )
        .distinct()
    )
    kept = tokens.join(
        covered,
        (tokens["doc_id"] == covered["cov_doc"]) & (tokens["i"] == covered["j"]),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_after"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", F.size("tk").alias("n_before"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based cross-source sampling plan (the multilingual
    pretraining standard — Lample & Conneau 2019 / XLM-R: sample
    source ``s`` with ``p_s ∝ c_s^α``, α < 1 up-weighting small
    sources): per source, its natural token share, its α-tempered
    sampling share, and the resulting boost factor.

    Output (one row per source): ``(source, n_docs, n_tokens,
    share_ppm, p_temp_ppm, boost_ppm)`` — all shares in integer parts
    per million; ``boost_ppm = round(p_temp_ppm·1e6 / share_ppm)`` is
    the up/down-sampling multiplier a dataloader applies.

    Engine-exactness: ``c^α`` is computed as ``exp(α·ln c)`` — the
    SAME composition on every engine (a direct ``pow`` may use a
    different libm path) — and the normalizer folds those terms in
    SOURCE ORDER over a sorted array, so the doubles agree to well
    under the ppm rounding on any IEEE engine.  Token totals are
    integer sums (order-free).

    Plan: one scan → per-source aggregate (a handful of groups,
    map-side partials) → one-row sorted fold broadcast back.  The
    whole plan is bounded by the number of sources, not the corpus.
    """
    toks = F.size(F.filter(F.split(F.col(text_col), " "), lambda x: x != ""))
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).cast("bigint").alias("n_tokens"),
    )
    packed = per.agg(
        F.sort_array(F.collect_list(F.struct("source", "n_tokens"))).alias("ss"),
        F.sum("n_tokens").alias("tot"),
    )
    z = F.aggregate(
        F.col("ss"),
        F.lit(0.0),
        lambda acc, s: acc
        + F.exp(F.lit(alpha) * F.log(s["n_tokens"].cast("double"))),
    )
    totals = packed.select(F.col("tot"), z.alias("z"))
    w = F.exp(F.lit(alpha) * F.log(F.col("n_tokens").cast("double")))
    share = F.round(F.col("n_tokens") * 1e6 / F.col("tot")).cast("bigint")
    p_temp = F.round(w * 1e6 / F.col("z")).cast("bigint")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            share.alias("share_ppm"),
            p_temp.alias("p_temp_ppm"),
        )
        .withColumn(
            "boost_ppm",
            F.round(F.col("p_temp_ppm") * 1e6 / F.col("share_ppm")).cast("bigint"),
        )
    )


def token_budget_mix(
    docs: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus mixing under per-source token budgets: each source
    contributes documents in deterministic md5 order until its token
    budget is exhausted — the "N billion tokens of web, M of code"
    recipe every pretraining mix implements.

    A doc is kept iff the tokens BEFORE it in its source's stream fit
    strictly under the budget (the budget-crossing doc is included, so
    every non-empty budget takes at least one doc and the stream can be
    truncated mid-doc downstream).  Sources absent from ``budgets``
    are dropped.

    Output: ``(doc_id, source, n_tokens, tokens_before)``.

    One hash shuffle on the source column; the budget table is a
    literal CASE expression (a handful of sources), no join.
    """
    from .textstats import ws_token_count

    # CASE source WHEN ... chain, deterministic order
    budget_expr = None
    for src, b in sorted(budgets.items()):
        clause = F.when(F.col(source_col) == src, F.lit(int(b)))
        budget_expr = clause if budget_expr is None else budget_expr.when(
            F.col(source_col) == src, F.lit(int(b))
        )

    w = (
        Window.partitionBy(source_col)
        .orderBy(F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        ws_token_count(text_col).cast("bigint").alias("n_tokens"),
        budget_expr.alias("budget"),
    ).where(F.col("budget").isNotNull())
    return (
        base.withColumn(
            "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .where(F.col("tokens_before") < F.col("budget"))
        .select("doc_id", "source", "n_tokens", "tokens_before")
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_per_line: int = 10,
    max_occurrences: int = 1,
    line_split_re: str | None = None,
    join_sep: str | None = None,
) -> DataFrame:
    """Cross-corpus duplicated-line removal (the C4 / RefinedWeb line
    dedup step): any line whose exact text occurs more than
    ``max_occurrences`` times corpus-wide (counting every occurrence,
    within-doc repeats included) is removed from EVERY document;
    surviving lines are rejoined in original order.  Catches the
    boilerplate (navigation bars, cookie banners, licence footers)
    that document-level dedup cannot see.

    "Line" is ``line_split_re`` when given (e.g. ``"\\n"`` for real
    multi-line text); otherwise consecutive windows of
    ``tokens_per_line`` whitespace tokens — the fixed-width analogue
    for single-line corpora (same granularity trick as
    :func:`duplicated_span_stats`).

    Surviving lines are rejoined with ``join_sep``.  Default (None):
    the literal ``line_split_re`` itself when it is a plain delimiter
    (no regex metacharacters — a real newline split rejoins with real
    newlines, preserving document structure), otherwise a single space
    (a regex class like ``"\\r?\\n"`` has no unique inverse; pass
    ``join_sep`` explicitly to pick one).  Token-window mode always
    rejoins with a space.

    Output: ``(doc_id, n_lines, n_lines_kept, text_clean)`` — docs
    whose every line is banned keep their row with ``text_clean = ''``;
    NULL text propagates NULL ``n_lines`` and empty output.

    Plan (100 TB): two corpus scans (line explode; a pure-expression
    per-doc line count — no diamond, nothing corpus-scale persisted),
    one aggregate on the line hash with map-side partials, and an
    anti-join against the banned-line set — which is only the
    heavy-hitter tail, so AQE broadcasts it at runtime; the reassembly
    groupBy shuffles scalar (doc_id, line_no, line) rows once.
    """
    if join_sep is None:
        plain = line_split_re is not None and not set(line_split_re) & set("\\^$.|?*+()[]{}")
        join_sep = line_split_re if plain else " "
    if line_split_re is not None:
        lines_arr = F.filter(
            F.split(F.col(text_col), line_split_re), lambda l: l != F.lit("")
        )
        n_lines = F.size(lines_arr)
    else:
        tk = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        n_chunks = F.ceil(F.size(tk) / F.lit(float(tokens_per_line))).cast("int")
        # Spark's sequence(1, 0) auto-reverses to [1, 0] — empty docs
        # must short-circuit to an empty array
        lines_arr = F.when(
            n_chunks >= 1,
            F.transform(
                F.sequence(F.lit(1), n_chunks),
                lambda i: F.array_join(
                    F.slice(tk, (i - F.lit(1)) * tokens_per_line + F.lit(1), tokens_per_line),
                    " ",
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        n_lines = n_chunks

    ids = F.col(id_col).alias("doc_id")
    lines = docs.select(ids, F.posexplode(lines_arr).alias("line_no", "line"))
    totals = docs.select(ids, n_lines.alias("n_lines"))

    banned = lines.groupBy("line").count().where(F.col("count") > max_occurrences)
    kept = lines.join(banned.select("line"), "line", "left_anti")
    agg = (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                    lambda s: s["line"],
                ),
                join_sep,
            ).alias("text_clean"),
        )
    )
    return totals.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


#: Gopher's required stop set (Rae et al. 2021, table A1): a document
#: must contain at least GOPHER_MIN_STOP_HITS distinct members.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher quality rule-set (Rae et al. 2021, table A1) as
    per-rule flags plus the combined keep decision — the word-level
    rules; the repetition rules live in :func:`repetition_stats` and
    the line-granularity rules (bullet/ellipsis lines) in
    :func:`line_dedup`'s line frame, since this corpus is single-line.

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_word_len, max_mean_word_len]; symbol-to-word ratio
    (``#`` / ``...`` / ``…`` occurrences per word) ≤ max_symbol_ratio;
    ≥ min_alpha_word_ratio of words contain an alphabetic character;
    ≥ min_stop_hits DISTINCT members of :data:`GOPHER_STOPWORDS`.

    Output: ``(doc_id, n_words, mean_word_len, symbol_ratio,
    alpha_word_ratio, stop_hits, pass_word_count, pass_mean_len,
    pass_symbol, pass_alpha, pass_stopwords, keep)`` — ratios 6dp;
    zero-word and NULL docs get NULL metrics and ``keep = 0``.

    Plan: pure per-row expressions, zero shuffles and joins — a 100 TB
    corpus filters at scan speed.  The token array is materialized in
    its own select: higher-order-function lambdas evaluate interpreted
    and inline their argument per use, so leaving ``tk`` symbolic
    re-runs filter(split(...)) once per metric (NOTES lesson 1).
    """
    tokd = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_text"),
        F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit("")).alias("tk"),
    )
    tk = F.col("tk")
    n = F.size(tk)
    char_sum = F.aggregate(tk, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    mean_len = F.when(n > 0, char_sum / n)
    symbol_ratio = F.when(n > 0, F.regexp_count(F.col("_text"), F.lit(r"#|\.\.\.|…")) / n)
    alpha_ratio = F.when(
        n > 0, F.size(F.filter(tk, lambda t: t.rlike("[a-zA-Z]"))) / n
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(tk), stop_arr))

    base = tokd.select(
        "doc_id",
        n.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
    )
    flag = lambda c: F.when(c, 1).otherwise(0)
    p_wc = flag(F.col("n_words").between(min_words, max_words))
    p_ml = flag(F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len))
    p_sy = flag(F.col("symbol_ratio") <= max_symbol_ratio)
    p_al = flag(F.col("alpha_word_ratio") >= min_alpha_word_ratio)
    p_st = flag(F.col("stop_hits") >= min_stop_hits)
    return base.select(
        "*",
        p_wc.alias("pass_word_count"),
        p_ml.alias("pass_mean_len"),
        p_sy.alias("pass_symbol"),
        p_al.alias("pass_alpha"),
        p_st.alias("pass_stopwords"),
        (p_wc * p_ml * p_sy * p_al * p_st).alias("keep"),
    )


@ckpt.scope()
def bigram_logprob_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram LM quality: mean per-token log-probability
    under ``λ·P(w|prev) + (1−λ)·P(w)`` estimated from the corpus
    itself — the next step up from :func:`unigram_logprob_quality`
    toward the KenLM-style perplexity filters (CCNet, Gopher): unigram
    scoring can't see scrambled word ORDER; this does.

    The first token of each doc scores by unigram alone (the standard
    sentence-start fallback).  Output: ``(doc_id, n_tokens,
    avg_logprob)``; token-free docs are absent (same contract as the
    unigram op).

    Determinism: each occurrence's log-prob derives from exact integer
    counts through a fixed double expression, then rounds to integer
    micro-nats; per-doc sums are bigint — order-free under any
    partitioning.

    Scale: the unigram table broadcasts; the bigram TYPE table is
    corpus-vocabulary-squared in the worst case, so its joins shuffle
    on the (a, b) key with map-side partials — the same budget as any
    token-pair aggregate.  One corpus scan builds occurrences; counts
    and scoring reuse it via persist.
    """
    tk = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    arr = docs.select(F.col(id_col).alias("doc_id"), tk.alias("tk")).where(
        F.size("tk") > 0
    )
    # one explode carries both roles: pos 0 rows score by unigram,
    # pos>0 rows carry their predecessor for the bigram term
    occ = ckpt.persist(
        arr.select(
            "doc_id",
            F.size("tk").alias("n_tokens"),
            F.posexplode("tk").alias("pos", "b"),
            F.col("tk").alias("_tk"),
        ).select(
            "doc_id",
            "n_tokens",
            "b",
            F.when(F.col("pos") > 0, F.element_at("_tk", F.col("pos"))).alias("a"),
        )
    )

    uni = occ.groupBy("b").agg(F.count("*").alias("cb"))
    n_total = occ.count()
    bg = occ.where(F.col("a").isNotNull()).groupBy("a", "b").agg(
        F.count("*").alias("cab")
    )
    ctx = bg.groupBy("a").agg(F.sum("cab").alias("ca"))

    p_uni = F.col("cb") / F.lit(float(n_total))
    p_int = F.lit(lam) * (F.col("cab") / F.col("ca")) + F.lit(1.0 - lam) * p_uni
    lp = F.when(F.col("a").isNull(), F.log(p_uni)).otherwise(F.log(p_int))

    scored = (
        occ.join(F.broadcast(uni), "b")
        .join(bg, ["a", "b"], "left")
        .join(ctx, "a", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(lp * 1e6).cast("bigint").alias("lp_micro"),
        )
    )
    out = ckpt.checkpoint(
        scored.groupBy("doc_id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.sum("lp_micro").alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("s") / (F.lit(1e6) * F.col("n_tokens")), 6).alias("avg_logprob"),
        )
    )
    return ckpt.keep(out)


def per_key_reservoir(
    df: DataFrame,
    key_col: str,
    k: int,
    id_col: str,
) -> DataFrame:
    """Deterministic per-key reservoir: exactly ``min(k, group size)``
    rows per key, selected by md5-hash rank — the seedless distributed
    analogue of a per-key reservoir sample (every row has equal,
    engine-reproducible odds given distinct ids).

    The pipeline use is per-source / per-user downsampling before
    expensive stages: caps a heavy key's contribution at ``k`` rows so
    a single hot source can't dominate a training mix.

    Scale: one hash shuffle on the key + a window rank; per-group
    state in the sort is the group's rows within its partition —
    groups are processed independently, so a hot KEY costs only its
    own group sort (and at extreme skew the rank-filter composes with
    the pre-aggregate valve pattern documented in SCALE.md).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "sample_rank")
    )
