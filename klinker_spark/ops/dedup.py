"""Corpus deduplication operators — the blocking kernel applied
reflexively (left = right = the corpus), per SURVEY §7 milestone 5.

Every operator returns candidate duplicate pairs ``(doc_a, doc_b, ...)``
with ``doc_a < doc_b`` (canonical orientation, no self-pairs), or a
per-document fingerprint table.  All are pure DataFrame plans designed
so 100 TB = more partitions:

- exact: hash-groupBy, one shuffle on the content hash;
- MinHash-LSH: shingle → signature → band → bucket self-join — the
  classic web-scale near-dup pipeline (reference's J7 machinery, used
  reflexively);
- SimHash: 64-bit fingerprint, 4×16-bit band index (Hamming ≤ 3 ⇒ some
  band matches exactly), verify with ``bit_count(xor)``;
- n-gram Jaccard: exact verification on shingle sets, joinable only
  within shared-shingle buckets so the cross-product never materializes;
- embedding cosine: near-dup by vector similarity.

Cache contract: ops that persist a self-join diamond internally
(minhash banding, simhash chunks, jaccard shingles/prefix, edit-
distance base) run in a :func:`klinker_spark.ckpt.scope` and
materialize their scalar-pair result with ``ckpt.checkpoint`` — the
internal caches are freed on return, and the result checkpoint passes
to the caller's scope, so long sessions accumulate no storage.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from .. import ckpt
from ..functions.text import minhash_signatures, simhash, tokenize, word_shingles
from ..functions.vectors import cosine, topk_cosine_join

__all__ = [
    "exact_dedup",
    "minhash_lsh_dedup",
    "simhash_dedup",
    "ngram_jaccard_dedup",
    "ngram_containment_dedup",
    "tfidf_cosine_join",
    "cosine_signlsh_dedup",
    "embedding_cosine_dedup",
    "semdedup",
    "edit_distance_dedup",
    "plan_bands",
]


def plan_bands(
    threshold: float,
    num_perm: int = 128,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Choose the MinHash-LSH banding ``(bands, rows)`` for a target
    Jaccard ``threshold`` — the standard integrated-error criterion
    (Leskovec/Rajaraman/Ullman, MMDS §3.4.3; the same objective the
    datasketch library optimizes): over all factorizations
    ``bands · rows = num_perm``, minimize

    ``fp_weight · ∫₀ᵗ P(s) ds  +  fn_weight · ∫ₜ¹ (1 − P(s)) ds``

    where ``P(s) = 1 − (1 − s^rows)^bands`` is the collision
    probability of a pair with similarity ``s``.  Weights trade
    candidate-pair cost (false positives → verification work) against
    recall (false negatives → lost duplicates).

    Pure driver-side planning — call it once, pass the result to
    ``minhash_lsh_dedup(bands=b)`` / the LSH blockers.  Thin named
    entry point over the single S-curve integration the LSH blocker
    already uses (``blockers/lsh.py::optimal_band_geometry`` — which
    also admits ``bands · rows < num_perm`` when dropping a few
    permutations scores better).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    from ..blockers.lsh import optimal_band_geometry

    return optimal_band_geometry(threshold, num_perm, (fp_weight, fn_weight))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash.

    Output: ``(text_hash, n_docs, keep_id)`` — ``keep_id`` is the
    smallest id of the group (the canonical survivor); groups with
    ``n_docs > 1`` are duplicate sets.
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


@ckpt.scope()
def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
    shingles: DataFrame | None = None,
    shingles_col: str = "sh",
) -> DataFrame:
    """MinHash banded near-dup candidates.

    Output: ``(doc_a, doc_b)`` distinct candidate pairs.  ``bands``
    bands of ``num_perm // bands`` rows ⇒ candidate threshold
    ``(1/bands)^(bands/num_perm)``.  The self-join shuffles on the band
    hash; hot buckets (boilerplate shingles hashing whole band
    signatures together) are the skew risk — AQE skew-join splits
    oversized join partitions, and ``max_bucket`` (the same skew cap as
    ``TokenBlocker.max_block_size``) DROPS band buckets holding more
    than ``max_bucket`` docs before the join: a bucket of b docs costs
    b² candidate pairs, and a bucket that hot is boilerplate collision,
    not near-dup signal (every surviving pair is still verified
    downstream by whoever consumes the candidates).  The cap is a
    ``groupBy`` count + anti-join against the oversized keys — map-side
    partial aggregation absorbs the hot key (a window count would
    funnel the entire hot bucket through one task, the very skew being
    capped), and the oversized-key table is by construction tiny (only
    keys above the cap), so AQE broadcasts the anti-join.  ``None``
    (default) keeps every bucket: exact banded-LSH semantics.

    The result is materialized (``localCheckpoint``) and the internal
    signature cache released before return — long sessions accumulate
    nothing.

    ``shingles``: optional pre-tokenized ``(doc_id, shingles_col)``
    frame — when the caller already materialized the per-doc shingle
    sets for its own use (e.g. the precision/recall audit's exact-
    Jaccard lanes), passing them here skips this op's duplicate
    tokenize+shingle pass over the corpus (guide §1.2: don't compute
    the same thing twice).  Value-equivalent by construction: the
    internal pipeline is exactly ``word_shingles(tokenize(text), k)``
    and :func:`minhash_signatures` deduplicates items within the row,
    so a within-row-distinct shingle set yields the identical
    signature, and zero-shingle docs emit no signature row on either
    path.  The caller owns the frame's lifecycle (persist/widen).
    """
    from ..session import widen_for_kernel

    rows = num_perm // bands
    if shingles is not None:
        sigs = minhash_signatures(
            shingles.select(F.col(id_col).alias("doc_id"), F.col(shingles_col)),
            F.col(shingles_col),
            id_col="doc_id",
            num_perm=num_perm,
            seed=seed,
            hash_fn=hash_fn,
        )
    else:
        # the per-row tokenize + shingle + num_perm-hash signature
        # pipeline is CPU-per-row work a byte-sized narrow scan
        # serializes onto one core (same class as
        # duplicated_span_stats; A/B: 2.2-3.4 s -> 1.9-2.0 s at
        # sf0.1).  Wide lake scans pass through untouched.
        toks = widen_for_kernel(docs.select(id_col, text_col)).select(
            F.col(id_col).alias("doc_id"), tokenize(text_col, 1, []).alias("tk")
        )
        sigs = minhash_signatures(
            toks,
            word_shingles(F.col("tk"), shingle_k),
            id_col="doc_id",
            num_perm=num_perm,
            seed=seed,
            hash_fn=hash_fn,
        )
    band_hash = F.md5 if hash_fn == "md5" else F.xxhash64
    band_keys = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                band_hash(F.concat_ws(",", F.slice(F.col("signature"), b * rows + 1, rows))),
            )
            for b in range(bands)
        ]
    )
    # persist: both sides of the band self-join derive from the same
    # signature pipeline — without it signatures compute twice
    banded = ckpt.persist(sigs.select("doc_id", F.explode(band_keys).alias("band_key")))
    if max_bucket is not None:
        oversized = ckpt.persist(
            banded.groupBy("band_key")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("band_key", "_n")
        )
        # no silent caps: surface how much the skew cap discarded so
        # recall loss is observable (banded is persisted — this extra
        # aggregate is a cheap scan of the cache)
        drop = oversized.agg(
            F.count("*").alias("n_buckets"),
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n_assignments"),
        ).collect()[0]
        if drop["n_buckets"]:
            logger.warning(
                "minhash_lsh_dedup: max_bucket=%d dropped %d band bucket(s) "
                "covering %d doc-band assignments — pairs whose only "
                "collision was in a dropped bucket are lost",
                max_bucket,
                drop["n_buckets"],
                drop["n_assignments"],
            )
        banded_joinable = banded.join(
            oversized.select("band_key"), "band_key", "left_anti"
        )
    else:
        oversized = None
        banded_joinable = banded
    other = banded_joinable.select(F.col("band_key"), F.col("doc_id").alias("doc_b"))
    out = ckpt.checkpoint(
        banded_joinable.join(other, "band_key")
        .where(F.col("doc_id") < F.col("doc_b"))
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    return ckpt.keep(out)


@ckpt.scope()
def simhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs.

    Output: ``(doc_a, doc_b, hamming)`` for pairs with Hamming distance
    ≤ ``max_hamming``.  Pigeonhole banding: split the ``bits``-bit
    fingerprint into 4 chunks — any pair within Hamming 3 matches on at
    least one chunk exactly, so the join is an equi-join per chunk,
    verified by ``bit_count(xor)``.  ``hash_fn="md5"`` makes the
    fingerprint cross-engine-deterministic (exact-oracle mode).
    """
    from ..session import widen_for_kernel

    width = bits // 4
    # widen the narrow-scan input before the per-row fingerprint
    # pipeline (see minhash_lsh_dedup)
    fp = simhash(
        widen_for_kernel(docs.select(id_col, text_col)).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ),
        tokenize("text", 1, []),
        id_col="doc_id",
        bits=bits,
        hash_fn=hash_fn,
    )
    chunks = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(c),
                F.shiftright(F.col("fp"), c * width).bitwiseAND(F.lit((1 << width) - 1)),
            )
            for c in range(4)
        ]
    )
    # persist: self-join diamond, same rationale as minhash banding;
    # released after the (scalar-pair) result is checkpointed
    chunked = ckpt.persist(fp.select("doc_id", "fp", F.explode(chunks).alias("chunk_key")))
    other = chunked.select("chunk_key", F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
    out = ckpt.checkpoint(
        chunked.join(other, "chunk_key")
        .where(F.col("doc_id") < F.col("doc_b"))
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            F.bit_count(F.col("fp").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)  # filter before the dedup shuffle
        .distinct()
    )
    return ckpt.keep(out)


@ckpt.scope()
def ngram_jaccard_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram-set Jaccard near-dup pairs.

    Output: ``(doc_a, doc_b, jaccard)`` with jaccard ≥ threshold.

    Plan — PPJoin-style **prefix filtering** (exact, not approximate):
    a naive shingle self-join explodes quadratically on hot shingles
    (boilerplate), so candidates are generated only from each doc's
    *prefix*: its ``n - ceil(t·n) + 1`` globally-rarest shingles
    (rarity = corpus frequency, ties by shingle).  If J(A,B) ≥ t then
    ``|A∩B| ≥ t·|A|`` (and ≥ t·|B|), so under any shared total order
    two qualifying sets MUST collide inside both prefixes — no
    qualifying pair is lost.  Verification computes the exact
    intersection with ``array_intersect`` on the per-doc shingle
    arrays (broadcast-joined back), touching only surviving candidates.
    Hot-shingle skew moves from the join to a cheap frequency count;
    measured 5-10x over the naive join on repetitive corpora.
    """
    # persist: the shingle arrays feed candidate generation (freq →
    # rank → prefix) AND verification (array_intersect) — without it the
    # tokenize+shingle expression pipeline re-runs for every branch
    from ..session import widen_for_kernel

    # widen the narrow-scan input before the per-row tokenize+shingle
    # pipeline (see minhash_lsh_dedup)
    shingles = ckpt.persist(
        widen_for_kernel(docs.select(id_col, text_col))
        .select(F.col(id_col).alias("doc_id"), tokenize(text_col, 1, []).alias("tk"))
        .select("doc_id", F.array_distinct(word_shingles(F.col("tk"), shingle_k)).alias("sh"))
    )
    ex = shingles.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = ex.join(freq, "shingle").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
        ),
    )
    prefix = ckpt.persist(  # both sides of the candidate self-join
        ranked.where(F.col("r") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
    )
    # Size filter rides along with candidate generation: J ≥ t forces
    # t·|A| ≤ |B| ≤ |A|/t, so length-mismatched pairs die before the
    # array join (and n_a/n_b never need a second lookup join).
    #
    # Positional filter (PPJoin): for a collision at prefix ranks
    # (r_a, r_b) under the shared global order, the overlap is at most
    # 1 + min(n_a - r_a, n_b - r_b), while J ≥ t needs overlap
    # ≥ t·(n_a+n_b)/(1+t).  A qualifying pair's *first* common shingle
    # sits in both prefixes and passes this bound, so keeping pairs
    # where ANY collision passes is exact — it only drops candidates
    # whose every collision already proves J < t, before the expensive
    # array_intersect verification.
    required = F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
    cand = (
        prefix.select(
            "shingle",
            F.col("doc_id").alias("doc_a"),
            F.col("n").alias("n_a"),
            F.col("r").alias("r_a"),
        )
        .join(
            prefix.select(
                "shingle",
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("n_b"),
                F.col("r").alias("r_b"),
            ),
            "shingle",
        )
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_b") >= threshold * F.col("n_a"))
            & (F.col("n_a") >= threshold * F.col("n_b"))
            & (
                F.lit(1) + F.least(F.col("n_a") - F.col("r_a"), F.col("n_b") - F.col("r_b"))
                >= required
            )
        )
        .select("doc_a", "doc_b", "n_a", "n_b")
        .distinct()
    )
    sets = shingles.select("doc_id", "sh")
    verified = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    out = ckpt.checkpoint(
        verified.select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return ckpt.keep(out)


@ckpt.scope()
def ngram_containment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """DIRECTIONAL shingle-set containment pairs:
    ``C(A→B) = |A∩B| / |A| ≥ threshold`` — document A is (mostly) a
    subset of B.  The case symmetric Jaccard structurally misses: a
    quoted article inside a long page has tiny J but containment ≈ 1;
    corpus pipelines (RefinedWeb-style) drop or attribute the
    contained copy.

    Output: ``(doc_a, doc_b, containment)`` — ordered pairs, both
    directions possible.

    Plan — one-sided prefix filter: ``C ≥ t`` forces ``|A∩B| ≥ t·n_a``,
    so A must collide inside its ``n_a − ceil(t·n_a) + 1`` rarest
    shingles (the :func:`ngram_jaccard_dedup` prefix argument, applied
    to the A side only — containment puts NO size bound on B beyond
    ``n_b ≥ t·n_a``, so the B side is the full inverted list).  Rarity
    ordering keeps the join keys off the boilerplate head: candidates
    per prefix shingle are bounded by that shingle's document
    frequency, which the prefix minimizes.  Verification is exact
    ``array_intersect`` on surviving candidates only.
    """
    from ..session import widen_for_kernel

    # widen the narrow-scan input before the per-row tokenize+shingle
    # pipeline (see minhash_lsh_dedup)
    shingles = ckpt.persist(
        widen_for_kernel(docs.select(id_col, text_col))
        .select(F.col(id_col).alias("doc_id"), tokenize(text_col, 1, []).alias("tk"))
        .select("doc_id", F.array_distinct(word_shingles(F.col("tk"), shingle_k)).alias("sh"))
    )
    ex = shingles.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
    )
    freq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = ex.join(freq, "shingle").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("df").asc(), F.col("shingle").asc()
            )
        ),
    )
    prefix_a = ranked.where(
        F.col("r") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    )
    cand = (
        prefix_a.select(
            "shingle", F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
        )
        .join(
            ex.select("shingle", F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "shingle",
        )
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("n_b") >= threshold * F.col("n_a"))
        )
        .select("doc_a", "doc_b", "n_a")
        .distinct()
    )
    sets = shingles.select("doc_id", "sh")
    verified = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.col("n_a"),
        )
    )
    out = ckpt.checkpoint(
        verified.where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))
    )
    return ckpt.keep(out)


def tfidf_cosine_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    max_df_frac: float | None = None,
) -> DataFrame:
    """WEIGHTED text-similarity join: pairs with TF-IDF cosine ≥
    ``threshold`` — the similarity the set-based family can't express
    (Jaccard/containment count tokens equally; here a shared RARE
    token dominates and shared boilerplate barely registers), the
    classic sparse-vector-join formulation of text similarity.

    Output: ``(doc_a, doc_b, cos_sim)`` with ``doc_a < doc_b``.

    Engine-exactness: per-doc norms fold ``w²`` over the
    TOKEN-SORTED weight list (fixed order), and each pair's score sums
    per-shared-token contributions rounded to integer NANO units
    (shuffle-order-free BIGINT) — exact SQL oracle.

    Plan: tf ``groupBy`` (map-side partials), df table, one per-doc
    fold, then the shared-token pair join — the inverted-index join
    whose fan-out per token is that token's document frequency; IDF
    weighting makes the hot (high-df) tokens contribute least, and a
    df cap (drop tokens with df above a bound — they add ≈ nothing to
    any pair under IDF) is the documented scale valve, same shape as
    the minhash ``max_bucket``.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokenize(text_col, 1, [])).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(id_col).distinct().count()
    if max_df_frac is not None:
        # sklearn-style max_df: corpus stopwords leave the VECTOR SPACE
        # entirely (vectors, norms, and scores all exclude them) — the
        # scale valve for the inverted join, whose fan-out per token is
        # df and whose worst tokens contribute least under IDF anyway
        dfreq = dfreq.where(F.col("df") <= max_df_frac * n_docs)
        tf = tf.join(dfreq.select("token"), "token", "left_semi")
    # IDF snapped to the nano grid BEFORE any use: the raw ln can
    # differ across libm implementations by an ulp, and that ulp
    # otherwise propagates through the norms into every pair score —
    # snapping makes every downstream double bit-identical
    idf = (
        F.round((F.log(F.lit(float(1 + n_docs)) / (1.0 + F.col("df"))) + 1.0) * 1e9)
        .cast("bigint")
        .cast("double")
        / 1e9
    )
    w = tf.join(dfreq, "token").select(
        "doc_id",
        "token",
        (F.col("tf").cast("double") * idf).alias("w"),
    )
    # norms from ORDER-FREE integer sums: per-token w² rounds to nano
    # units and BIGINT-sums (any order, any engine), then one sqrt of
    # an identical double — no float fold whose summation order an
    # engine could choose differently
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.round(F.col("w") * F.col("w") * 1e9).cast("bigint")) / 1e9
        ).alias("nrm")
    )
    unit = w.join(norms, "doc_id").select(
        "doc_id", "token", (F.col("w") / F.col("nrm")).alias("u")
    )
    pairs = (
        unit.alias("a")
        .join(
            unit.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(F.col("a.u") * F.col("b.u") * 1e9).cast("bigint").alias("t_nano"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("t_nano").alias("sn"))
    )
    # 6-dp display via INTEGER rounding (nano → micro): round(sn/1e9, 6)
    # would hit exact .5 decimal boundaries where Spark (decimal
    # half-up) and other engines (binary) disagree; round(sn/1000.0)
    # is a half-up on an exactly-representable .5 — identical everywhere
    return (
        pairs.where(F.col("sn") / 1e9 >= threshold)
        .select(
            "doc_a",
            "doc_b",
            (F.round(F.col("sn") / 1000.0).cast("bigint") / 1e6).alias("cos_sim"),
        )
    )


@ckpt.scope()
def cosine_signlsh_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    sign_bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Random-hyperplane LSH near-dup with *axis-aligned* hyperplanes.

    Bucket key = the sign pattern of the first ``sign_bits`` dimensions,
    banded like MinHash (a pair is a candidate iff some band of sign
    bits matches exactly); candidates verified with exact cosine.
    Output: ``(doc_a, doc_b, sim)`` with sim ≥ threshold, sim rounded
    to 6 dp.

    Two deliberate properties vs ``embedding_cosine_dedup``:

    - fully deterministic (no sampled hyperplanes, no KMeans) — every
      engine that can read the vectors computes the identical result,
      so it carries an exact DuckDB oracle;
    - the self-join is an equi-join on (band, sign-pattern), so at
      scale the plan is one shuffle on short string keys and the
      all-pairs product never materializes.  Recall per pair follows
      the standard SimHash bound ``1-(1-(1-θ/π)^r)^b`` — tune
      ``sign_bits``/``bands`` per corpus; it is an honest approximate
      method, not an exact one (``ngram_jaccard_dedup`` is the exact
      family).

    Hot-bucket skew (many vectors sharing a sign pattern, e.g.
    all-positive embeddings) is the known hazard — AQE skew-join splits
    oversized buckets; raising ``sign_bits`` shrinks them.
    """
    rows = sign_bits // bands
    bits = F.concat(
        *[
            F.when(F.element_at(F.col("vector"), j + 1) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(sign_bits)
        ]
    )
    emb = embeddings.select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("vector")
    ).select("doc_id", "vector", bits.alias("bits"))
    band_keys = F.array(
        *[
            F.concat_ws("_", F.lit(c), F.substring(F.col("bits"), c * rows + 1, rows))
            for c in range(bands)
        ]
    )
    # persist: self-join diamond (same rationale as minhash banding)
    banded = ckpt.persist(emb.select("doc_id", "vector", F.explode(band_keys).alias("band_key")))
    other = banded.select(
        "band_key", F.col("doc_id").alias("doc_b"), F.col("vector").alias("vec_b")
    )
    dot = F.aggregate(
        F.zip_with("vector", "vec_b", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(c), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # Verify *before* the pair-dedup so the distinct shuffles only
    # scalar (id, id, sim) rows, never the dim-d vectors; a pair hit in
    # several bands recomputes one dim-d dot — cheaper than shuffling
    # the vectors.
    out = ckpt.checkpoint(
        banded.join(other, "band_key")
        .where(F.col("doc_id") < F.col("doc_b"))
        .withColumn("sim", F.round(dot / (norm("vector") * norm("vec_b")), 6))
        .where(F.col("sim") >= threshold)
        .select(F.col("doc_id").alias("doc_a"), "doc_b", "sim")
        .distinct()
    )
    return ckpt.keep(out)


def embedding_cosine_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k: int = 10,
) -> DataFrame:
    """Embedding near-dup pairs: reflexive top-k cosine join filtered by
    similarity threshold.  Output: ``(doc_a, doc_b, sim)`` with
    ``doc_a < doc_b`` and sim rounded to 6 dp.

    The candidate set is SYMMETRIC (reference behavior,
    ``blockers/embedding/blockbuilder.py:51-106``): a pair qualifies if
    it appears in EITHER endpoint's top-k list, so canonicalization is
    ``least/greatest + distinct`` AFTER the reflexive join — a plain
    ``query_id < neighbor_id`` filter would drop an above-threshold
    pair that only shows up in the higher-id row's list.  The distinct
    shuffles scalar (id, id, sim) rows only.  Threshold and distinct
    both apply to the 6-dp-rounded sim so the two directions of a pair
    collapse bit-identically."""
    emb = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
    nn = topk_cosine_join(emb, emb, k=k)
    return (
        nn.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round("sim", 6))
        .where(F.col("sim") >= threshold)
        .select(
            F.least("query_id", "neighbor_id").alias("doc_a"),
            F.greatest("query_id", "neighbor_id").alias("doc_b"),
            "sim",
        )
        .distinct()
    )


@ckpt.scope()
def semdedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    threshold: float = 0.95,
    quantizer: str = "hash_sample",
    seed: int = 42,
    impl: str = "matmul",
    max_cluster_size: int | None = 200_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): coarse-cluster the
    embedding space, then inside each cluster drop every item whose
    cosine similarity to a LOWER-id cluster-mate reaches ``threshold``
    — one deterministic survivor (the lowest id) per semantic
    near-dup set, the paper's keep-one rule with id order standing in
    for its random choice.

    Output: ``(vec_id, cluster_id, max_sim_lower, keep)`` —
    ``max_sim_lower`` is the 6dp-rounded max cosine to any lower-id
    cluster-mate (NULL for each cluster's lowest id; zero-norm
    vectors yield NULL, never NaN), ``keep`` is false iff
    ``max_sim_lower >= threshold``.

    ``quantizer`` is :func:`~.similarity._fit_centroids`'s:
    ``"hash_sample"`` picks the ``n_centroids`` vectors ranked first by
    ``md5(id)`` — deterministic across engines, so the whole pipeline
    carries an exact SQL oracle; ``"kmeans"`` swaps in MLlib centroids
    (better balance, rows-only checkable).

    ``impl``:

    - ``"matmul"`` (default): clusters cogroup through
      ``applyInPandas``; each task L2-normalizes its cluster once and
      runs the pairwise stage as BLAS matmul tiles (row-blocks of the
      similarity matrix, so peak memory is O(tile·|cluster|), never
      |cluster|²).  The SemDeDup shape: a cluster is a task — size
      clusters to ~corpus/n_centroids so one fits comfortably.
      Measured ~3.5× the expr path at bench scale (dense kernels
      belong in Arrow+numpy, NOTES lesson 7).
    - ``"expr"``: pure-Catalyst equi-join on cluster_id + HOF cosine —
      the oracle-shaped baseline; slower (interpreted per-pair) but
      never materializes a cluster in one task, the fallback if a
      skewed cluster outgrows task memory.

    Both impls agree bit-for-bit at the 6dp output rounding (max is
    taken over unrounded sims in both, then rounded once) — which is
    what makes the GIANT-CLUSTER GUARD free: with ``impl="matmul"``,
    clusters larger than ``max_cluster_size`` (a skewed KMeans fit,
    degenerate all-identical embeddings) are routed through the expr
    join instead of a single ``applyInPandas`` task, so no task ever
    materializes an unbounded cluster or runs an unbounded O(c²)
    kernel: the oversized cluster becomes an AQE-splittable equi-join.
    The routing decision is one ``n_centroids``-row aggregate;
    ``max_cluster_size=None`` disables it.

    Scale (100 TB corpus of embeddings): assignment is the IVF probe
    kernel with ``n_probe=1`` — centroids broadcast (literal array or
    numpy broadcast above ``PROBE_LITERAL_MAX_CENTROIDS``), zero
    shuffle.  The pairwise stage touches only same-cluster pairs, so
    cost is Σ|cluster|² instead of |corpus|² — the SemDeDup design
    point; skewed clusters fall to AQE skew-join splitting (expr) or
    a larger n_centroids (matmul).
    """
    from .similarity import _assign, _fit_centroids

    ix_all = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector")
    )
    # Malformed vectors (NULL / empty / dimension-mismatched — e.g. a
    # future testdata regen with null rows) can neither cluster nor
    # compare: they are excluded from the pipeline and returned
    # keep=true, unclustered, instead of crashing np.stack / the fit.
    well_formed = F.col("vector").isNotNull() & (F.size("vector") > 0)
    # reference dimension = the md5-first well-formed row's — one tiny
    # deterministic aggregate, identical for both quantizers (and
    # reproducible in SQL, so the oracle mirrors the exclusion)
    dim_row = ix_all.where(well_formed).select(
        F.min_by(F.size("vector"), F.md5(F.col("id").cast("string"))).alias("d")
    ).collect()[0]
    dim = int(dim_row["d"]) if dim_row["d"] is not None else 0
    good = well_formed & (F.size("vector") == dim)
    ix = ix_all.where(good)
    centroids = _fit_centroids(ix, n_centroids, quantizer, seed)
    if not centroids:  # empty corpus: nothing to assign or compare
        return ix_all.select(
            F.col("id").alias(id_col),
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(None).cast("double").alias("max_sim_lower"),
            F.lit(True).alias("keep"),
        )
    malformed = ix_all.where(~good).select(
        F.col("id").alias(id_col),
        F.lit(None).cast("int").alias("cluster_id"),
        F.lit(None).cast("double").alias("max_sim_lower"),
        F.lit(True).alias("keep"),
    )

    # materialize the assignment ONCE: the giant-cluster guard, the
    # pairwise kernel, AND (expr path) the three-way self-join all
    # consume it — without this the probe re-evaluates per consumer
    # (measured 2× ~10 s per extra evaluation at sf1 before the exact
    # Arrow probe kernel; still the single biggest subplan after it)
    assigned = ckpt.checkpoint(
        _assign(ix, centroids).select(
            F.col("centroid_id").alias("cluster_id"), "id", F.col("vector").alias("qv")
        )
    )

    def _expr_rounded(src):
        a = src.alias("a")
        b = src.select(
            "cluster_id", F.col("id").alias("bid"), F.col("qv").alias("bv")
        ).alias("b")
        raw_sim = cosine(F.col("a.qv"), F.col("b.bv"))
        pair_sim = (
            a.join(
                b,
                (F.col("a.cluster_id") == F.col("b.cluster_id"))
                & (F.col("b.bid") < F.col("a.id")),
            )
            # NaN (zero-norm) -> NULL so max() ignores it, matching SQL
            .select(
                F.col("a.id").alias("id"),
                F.when(F.isnan(raw_sim), F.lit(None)).otherwise(raw_sim).alias("sim"),
            )
            .groupBy("id")
            .agg(F.round(F.max("sim"), 6).alias("max_sim_lower"))
        )
        return src.join(pair_sim, "id", "left").select("id", "cluster_id", "max_sim_lower")

    if impl == "matmul":
        import numpy as np
        import pandas as pd

        id_type = assigned.schema["id"].dataType.simpleString()

        def pair_max(pdf):
            pdf = pdf.sort_values("id").reset_index(drop=True)
            vecs = np.stack(pdf["qv"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
            n = len(pdf)
            best = np.full(n, -np.inf)
            tile = max(1, (128 << 20) // max(1, n * 8))  # 128 MB sim-tile budget
            for lo in range(0, n, tile):
                hi = min(lo + tile, n)
                sims = unit[lo:hi] @ unit.T  # (hi-lo, n)
                for r in range(lo, hi):
                    lower = sims[r - lo, :r]
                    lower = lower[~np.isnan(lower)]
                    if lower.size:
                        best[r] = max(best[r], float(lower.max()))
            # nullable Float64: -inf sentinels must become SQL NULL,
            # not NaN (a plain float column would ship NaN to Spark)
            out = pd.array(best, dtype="Float64")
            out[~np.isfinite(best)] = pd.NA
            return pd.DataFrame(
                {"id": pdf["id"], "cluster_id": pdf["cluster_id"], "max_sim_lower": out}
            )

        def _matmul_rounded(src):
            # narrow-ok: grouped kernel — cluster_id IS the unit of
            # work (intra-cluster pairwise sims); skew is handled by
            # the giant-cluster guard below, not by rebalancing
            pair = src.groupBy("cluster_id").applyInPandas(
                pair_max,
                schema=f"id {id_type}, cluster_id int, max_sim_lower double",
            )
            return pair.select(
                "id", "cluster_id", F.round("max_sim_lower", 6).alias("max_sim_lower")
            )

        big: list = []
        if max_cluster_size is not None:
            # giant-cluster guard: bounded collect (≤ n_centroids rows)
            big = [
                r["cluster_id"]
                for r in assigned.groupBy("cluster_id")
                .agg(F.count("*").alias("csz"))
                .where(F.col("csz") > max_cluster_size)
                .collect()
            ]
        if big:
            # Oversized clusters never land in one applyInPandas task:
            # they run through the AQE-splittable expr join, bit-
            # identical at the 6dp rounding.
            rounded = _matmul_rounded(
                assigned.where(~F.col("cluster_id").isin(big))
            ).unionByName(_expr_rounded(assigned.where(F.col("cluster_id").isin(big))))
        else:
            rounded = _matmul_rounded(assigned)
    elif impl == "expr":
        rounded = _expr_rounded(assigned)
    else:
        raise ValueError(f"impl must be matmul|expr, got {impl!r}")

    out = ckpt.checkpoint(
        rounded.select(
            F.col("id").alias(id_col),
            "cluster_id",
            "max_sim_lower",
            (
                F.col("max_sim_lower").isNull() | (F.col("max_sim_lower") < threshold)
            ).alias("keep"),
        )
        .unionByName(malformed)
    )
    return ckpt.keep(out)


@ckpt.scope()
def edit_distance_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 1,
    q: int = 3,
    impl: str = "auto",
) -> DataFrame:
    """Exact edit-distance near-dup pairs — the classic entity-
    resolution string-similarity self-join (EDJoin shape, Xiao et al.
    2008): ``(doc_a, doc_b, dist)`` with ``levenshtein ≤ max_dist``,
    ``doc_a < doc_b``.

    Candidates come from a PREFIX filter on character ``q``-grams: one
    edit destroys at most ``q`` distinct grams, so Ed ≤ d implies at
    most ``d·q`` distinct grams of x are absent from y.  When x and y
    SHARE at least one gram, the globally-rarest shared gram g* sits in
    both prefixes (every gram of x rarer than g* is absent from y — at
    most ``d·q`` of those — so rank_x(g*) ≤ d·q+1, symmetrically for
    y), and the prefix self-join finds the pair; any pair where either
    side has MORE than ``d·q`` distinct grams must share one.  A length
    filter rides along; verification is the builtin ``levenshtein`` on
    surviving pairs only.

    The one hole is gram-DEFICIENT pairs: if BOTH strings have
    ≤ ``d·q`` distinct grams (all strings with ``len < q`` — zero
    grams — and short or highly repetitive ones), a qualifying pair can
    share *no* gram at all (``"abcde"``/``"abxde"``, Ed=1, q=3: zero
    common 3-grams).  Deficient strings therefore pair with each OTHER
    through a length-banded brute-force bucket (an equi-join on length
    band, never a cross join); deficient×sufficient pairs need no
    bucket — a deficient string's prefix is its FULL gram set, and the
    lemma applied to the sufficient side guarantees a collision.

    ``impl``:

    - ``"deletion"`` (FastSS, Bocek et al. 2007): candidates share a
      member of their ≤ ``max_dist``-deletion neighborhoods — complete
      for Ed ≤ d (an edit script deletes ≤ d chars from EACH side to a
      common subsequence).  Neighborhoods are generated recursively to
      depth ``max_dist``; size is O(len^d), so it is the short-string /
      small-d algorithm — and it is IMMUNE to the template-degenerate
      corpora that defeat rarity ordering (deleting one char of
      "Customer#000000042" collides only with true near-matches;
      measured 40 s → ~8 s on 15k template names where the gram prefix
      join fanned out to ~70M candidates).
    - ``"prefix"`` (EDJoin): the gram-prefix plan above — for long
      strings or larger d, where deletion neighborhoods explode.
    - ``"auto"`` (default): deletion when ``max_dist <= 2``, else
      prefix.

    Scale: either way the hot-gram quadratic join never runs;
    verification cost is per-candidate, not per-pair.

    The result is materialized (``localCheckpoint``) before return and
    every internal cache is released — repeated calls in a long session
    leave nothing in the cache manager.
    """
    from ..session import widen_for_kernel

    # widen the narrow-scan input: the deletion-neighborhood /
    # q-gram-prefix generation is per-row CPU (see minhash_lsh_dedup)
    base = ckpt.persist(
        widen_for_kernel(docs.select(id_col, text_col))
        .select(
            F.col(id_col).alias("id"), F.col(text_col).alias("s"), F.length(text_col).alias("ln")
        )
        .where(F.col("s").isNotNull())
    )
    if impl == "auto":
        impl = "deletion" if max_dist <= 2 else "prefix"
    if impl == "deletion":

        def one_del(c):
            # delete char i (1-based); empty input short-circuits —
            # Spark's sequence(1, 0) would count DOWN
            return F.when(
                F.length(c) < 1, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length(c)),
                    lambda i: F.concat(
                        c.substr(F.lit(1), i - F.lit(1)),
                        # tail length = full string length: never caps,
                        # however long the doc
                        c.substr(i + F.lit(1), F.length(c)),
                    ),
                )
            )

        # variants materialized level by level (lambda-copy lesson):
        # each deletion depth is its own column, referenced twice (next
        # level + final concat) so CollapseProject keeps it shared
        v = base.withColumn("d1", F.array_distinct(one_del(F.col("s"))))
        level_cols = [F.col("d1")]
        for depth in range(2, max_dist + 1):
            v = v.withColumn(
                f"d{depth}",
                F.array_distinct(F.flatten(F.transform(F.col(f"d{depth - 1}"), one_del))),
            )
            level_cols.append(F.col(f"d{depth}"))
        variants = F.array_distinct(F.concat(F.array(F.col("s")), *level_cols))
        ex = v.select("id", F.explode(variants).alias("var"))
        cand = (
            ex.select("var", F.col("id").alias("doc_a"))
            .join(ex.select("var", F.col("id").alias("doc_b")), "var")
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        out = ckpt.checkpoint(
            cand.join(
                base.select(F.col("id").alias("doc_a"), F.col("s").alias("s_a"), F.col("ln").alias("ln_a")),
                "doc_a",
            )
            .join(
                base.select(F.col("id").alias("doc_b"), F.col("s").alias("s_b"), F.col("ln").alias("ln_b")),
                "doc_b",
            )
            .where(F.abs(F.col("ln_a") - F.col("ln_b")) <= max_dist)
            .withColumn("dist", F.levenshtein("s_a", "s_b"))
            .where(F.col("dist") <= max_dist)
            .select("doc_a", "doc_b", "dist")
        )
        return ckpt.keep(out)
    if impl != "prefix":
        raise ValueError(f"impl must be auto|deletion|prefix, got {impl!r}")
    from ..functions.text import qgrams

    grams = base.select("id", F.explode(F.array_distinct(qgrams(F.col("s"), q))).alias("gram"))
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    rk = grams.join(dfreq, "gram").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("gram").asc())
        ),
    )
    # For a gram-deficient doc (≤ d·q distinct grams) this keeps ALL
    # its grams, which is what makes deficient×sufficient pairs safe
    # without a bucket (see docstring).
    pre = ckpt.persist(rk.where(F.col("r") <= max_dist * q + 1))
    cand = (
        pre.select("gram", F.col("id").alias("doc_a"))
        .join(pre.select("gram", F.col("id").alias("doc_b")), "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Gram-deficient bucket: docs whose whole gram set can be destroyed
    # by max_dist edits (gcnt ≤ d·q; len < q docs have no grams at all
    # and a NULL count after the left join).  Deficient×deficient pairs
    # may share zero grams, so they meet in a length-banded equi-join:
    # side a fans out to the band [ln, ln+d], side b joins on its own
    # length — |Δlen| ≤ d pairs collide in one direction, canonicalized
    # by least/greatest.  Never a cross join.
    gcnt = grams.groupBy("id").agg(F.count("*").alias("gcnt"))
    deficient = (
        base.join(gcnt, "id", "left")
        .where(F.coalesce(F.col("gcnt"), F.lit(0)) <= max_dist * q)
        .select("id", "ln")
    )
    short_cand = (
        deficient.select(
            F.col("id").alias("ida"),
            F.explode(F.sequence(F.col("ln"), F.col("ln") + max_dist)).alias("lnk"),
        )
        .join(deficient.select(F.col("id").alias("idb"), F.col("ln").alias("lnk")), "lnk")
        .where(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("doc_a"), F.greatest("ida", "idb").alias("doc_b")
        )
    )
    all_cand = cand.unionByName(short_cand).distinct()
    out = ckpt.checkpoint(
        all_cand.join(
            base.select(F.col("id").alias("doc_a"), F.col("s").alias("s_a"), F.col("ln").alias("ln_a")),
            "doc_a",
        )
        .join(
            base.select(F.col("id").alias("doc_b"), F.col("s").alias("s_b"), F.col("ln").alias("ln_b")),
            "doc_b",
        )
        .where(F.abs(F.col("ln_a") - F.col("ln_b")) <= max_dist)
        .withColumn("dist", F.levenshtein("s_a", "s_b"))
        .where(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )
    return ckpt.keep(out)


def cdc_chunk_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    mask: int = 63,
    base: int = 31,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS primitive): split each
    document at positions where a ``window``-char polynomial rolling
    hash satisfies ``h % (mask+1) == 0`` (average chunk ≈ mask+1
    chars), then measure cross-document chunk sharing.

    Because boundaries depend only on LOCAL content, inserting or
    deleting text shifts boundaries only near the edit — unlike
    fixed-size shingles, unaffected chunks keep their identity, which
    is what makes CDC the standard primitive for dedup of
    shifted/patched content.

    Returns per doc: ``(id, n_chunks, n_shared_chunks,
    shared_ppm)`` where a chunk is shared if its md5 occurs in more
    than one document.

    The boundary scan is the one hot path in this engine where the
    Arrow/numpy lane beats Catalyst expressions outright: it is pure
    per-character CPU work, and interpreted higher-order functions
    (nested lambdas disable whole-stage codegen) cost ~1 µs per
    element where a vectorized int64 polynomial correlation costs
    ~1 ns — measured 36 s → ~1 s on the sf0.1 documents table.  The
    kernel computes the IDENTICAL int64 Horner hash over code points
    (max 255·31⁷·8 ≈ 5.6e13, no overflow), so boundaries — and hence
    every downstream number — are bit-equal to the pure-SQL oracle.
    The expression formulation is kept in the oracle and in git
    history; its recorded trap: an intermediate char-code array
    referenced inside a lambda gets re-inlined by projection collapse
    (O(len²·w)), and per-position ``ascii(substring(...))`` avoids
    that but still pays interpreted-lambda cost per character.

    Shuffles: the chunk-frequency aggregate and the join back — the
    scan itself is embarrassingly parallel and Arrow-batched.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    w, b, m = window, base, mask + 1
    kernel = np.array([b ** (w - 1 - j) for j in range(w)], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            ids: list[int] = []
            chs: list[str] = []
            for did, txt in zip(pdf["_id"], pdf["_t"]):
                if txt is None or len(txt) == 0:
                    continue
                codes = np.frombuffer(
                    txt.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(codes)
                bounds = [0]
                if n >= w:
                    h = np.correlate(codes, kernel, mode="valid")
                    ks = np.nonzero(h % m == 0)[0]
                    bounds.extend(int(k) + w for k in ks if k + w < n)
                bounds.append(n)
                for a, e in zip(bounds, bounds[1:]):
                    ids.append(did)
                    chs.append(hashlib.md5(txt[a:e].encode("utf-8")).hexdigest())
            yield pd.DataFrame({"id": ids, "ch": chs})

    from ..session import widen_for_kernel

    chunked = widen_for_kernel(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).mapInPandas(gen, "id bigint, ch string")
    dfreq = chunked.groupBy("ch").agg(F.countDistinct("id").alias("df"))
    per_doc = (
        chunked.join(dfreq, "ch")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).cast("bigint").alias("n_shared_chunks"),
        )
    )
    return per_doc.select(
        "id",
        "n_chunks",
        "n_shared_chunks",
        F.round(1000000.0 * F.col("n_shared_chunks") / F.col("n_chunks"))
        .cast("bigint")
        .alias("shared_ppm"),
    )
