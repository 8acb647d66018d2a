"""Dump formatted physical plans (``explain("formatted")``).

With no arguments, regenerate PLANS.md: the plans of the headline
queries at sf0.001 with notes, guarded by tests/test_plans.py.

With ``OUTDIR SUFFIX [SF_DIR] [query ...]``, write one
``OUTDIR/<query>_<SUFFIX>.txt`` per query (default: the bench's
``SF_DIR`` and ``DEFAULT_QUERIES``): run it at the base commit with suffix ``before``
and at the change with ``after``.

A query whose result is a checkpoint explains as a one-line
``Scan ExistingRDD``, which shows nothing of the computation.  While a
query builds, ``klinker_spark.ckpt.checkpoint`` — the package's only
caller of ``localCheckpoint`` — is wrapped to record the plan of every
frame entering a checkpoint; when the final plan has an ``ExistingRDD``
leaf, the plan that entered the last checkpoint is appended.

Usage: python scripts/dump_plans.py [OUTDIR SUFFIX [SF_DIR] [query ...]]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, ".")

#: per-query dump default: the iterative and dedup operators whose
#: plans a change most often moves
DEFAULT_QUERIES = [
    "pagerank_importance",
    "personalized_pagerank",
    "duplicated_span_stats",
    "minhash_dedup",
    "ngram_containment_dedup",
    "edit_distance_dedup",
    "bpe_train_merges",
    "lsh_precision_recall_audit",
]

NOTES = {
    "token_blocking": "Both scans pruned to (id, name); per-side partial+final ObjectHashAggregate (collect_set); supplier side broadcast — zero shuffle joins.",
    "relational_token_blocking": "The headline method as the one side-tagged relational flow: the tagged own-text aggregate feeds the (_s, tail) edge join of both sides (the same subtree twice here; the executed plan reuses its exchange); the single branch's side split is pushed down, so the own text unioned in after the join, the re-concat and the token explode plan per side; block join. Importance tables would enter as broadcasts.",
    "ngram_jaccard_dedup": "PPJoin prefix filter: frequency count -> per-doc window -> prefix self-join -> array_intersect verify; size filter rides the candidate join.",
    "knn_topk": "Index broadcast, deliberate BroadcastNestedLoopJoin cross product, single window for top-k; vec_id filter pushed to the scan.",
    "windowed_event_counts": "Scan pruned to 3 columns; map-side partial aggregate; one exchange on (window, type).",
    "eval_metrics": "Evaluation runs while the query builds, so the plan is its one-row result. It is one action either way: key-framed blocks (this query) sum per-block size products, gold links joined to shared keys, the repeats of pairs of multi-key entities, and the gold and entity counts as legs of one union; array-layout blocks group pairs and gold rows once by (left_id, right_id) first.",
    "knn_topk_sharded": "Unbroadcastable-index exact kNN: index scanned IN PLACE through MapInPandas (zero index shuffle — queries arrive via a parquet side-channel read inside the task); WindowGroupLimit prunes partial top-k before the single exchange of the merge window.",
    "ann_topk_ivf_indexed": "Persisted IVF probe: scan shows PartitionFilters on centroid_id (unprobed list directories never open); per-list matmul via FlatMapCoGroupsInPandas; probe projection read from parquet scratch (no session-lifetime cache); tiny final window.",
    "csls_topk": "Hubness-reduced kNN: two MapInPandas exact searches, scalar avg aggregates, two scalar equi-joins, one merge window — the dim-d vectors never enter an exchange after the searches.",
    "mutual_rank_topk": "Rank-based hubness reduction: forward/reverse top-k lists meet in one scalar join; integer scoring; single window.",
    "dbscan_labels": "Density clustering: broadcast epsilon self-join, degree aggregate, min-label propagation rounds (localCheckpoint truncates lineage), border attach, noise union.",
    "multimodal_features": "Binary payloads move Arrow-batched through one MapInPandas; metadata columns stay prunable; no Python row-at-a-time.",
    "repetition_stats": "Gopher repetition filter: bigram explode -> (doc, bigram) partial+final aggregate -> doc aggregate -> join back to per-doc token stats (AQE broadcasts the small side here, SMJ at scale).",
    "stratified_sample": "Deterministic quota sample: WindowGroupLimit partial runs BELOW the strata exchange, so only <=n rows per stratum cross the shuffle.",
    "contamination_check": "Benchmark n-gram set broadcast into the eval explode; hits and sizes come out of one aggregate — the corpus-side shingles never shuffle.",
    "pii_scrub": "Pure codegen regex projection: scan -> project, zero exchanges.",
    "pack_sequences": "Concat-and-chunk packing: one hash exchange on pack_group, per-group window cumsum — no global sort.",
    "embedding_quantize": "Int8 SQ: higher-order-function projection only (scale/codes/error per row), zero exchanges.",
    "vocab_coverage": "Top-k vocabulary via TakeOrderedAndProject (distributed partial top-k, no single-partition window), broadcast membership join, one doc aggregate.",
    "gopher_rules": "Gopher word-level rules: scan -> two projections (token array materialized once, then metrics+flags), zero exchanges, zero joins.",
    "line_dedup": "Cross-corpus line removal: line explode, line-hash count aggregate, anti-join against the (heavy-hitter-only) banned set — AQE broadcasts it at runtime — then one doc_id aggregate restoring order via array_sort, no global sort.",
    "semdedup": "SemDeDup: zero-shuffle centroid assignment (broadcast probe kernel), one exchange into the per-cluster FlatMapGroupsInPandas BLAS tile kernel, left join of per-id maxima back to assignments.",
    "bloom_ingest_gate": "Bloom membership: the bitmap rides ONE one-row broadcast; probing is pure projection — no aggregate, no shuffle join, no per-batch history scan.",
    "neardup_ingest_gate": "Stateless streaming near-dup gate: expression MinHash signature -> band keys -> Bloom probes, all projections over a single one-row broadcast NLJ; no aggregation anywhere in the per-batch side.",
    "cm_token_freq": "Count-Min: token explode -> (row, col) cell count aggregate (<= depth*width groups after partials); estimates probe the dense counter array via a one-row broadcast.",
    "bigram_logprob": "Bigram LM: one posexplode carries (predecessor, token); unigram table broadcast; bigram-type and context joins shuffle on the (a, b) key; final doc aggregate of integer micro-nats.",
    "value_histogram": "Histogram: bucket-id projection -> one partial+final aggregate with <= bins groups.",
    "normalize_text": "Unicode normalization: single MapInPandas stage (vectorized NFC) + codegen lower/collapse projection, zero exchanges.",
    "edit_distance_dedup": "FastSS edit-distance join: deletion-variant explode, variant equi-join, distinct candidate pairs, levenshtein verify on survivors only.",
}


def _fmt_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plans_md(spark) -> None:
    from klinker_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = [
        "# PLANS — captured physical plans of headline queries (sf0.001)",
        "",
        "Regenerate: `python scripts/dump_plans.py`.  Guarded by",
        "`tests/test_plans.py` so the properties below survive refactors.",
        "",
    ]
    for name, note in NOTES.items():
        tree = _fmt_plan(QUERIES[name](spark, sf)).split("\n\n")[0]
        out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))


def per_query(spark, outdir: str, suffix: str, sf: str, names: list[str]) -> None:
    from klinker_spark import ckpt
    from klinker_spark.queries import QUERIES

    os.makedirs(outdir, exist_ok=True)
    entering: list[str] = []
    checkpoint = ckpt.checkpoint

    def recording_checkpoint(df):
        entering.append(_fmt_plan(df))
        return checkpoint(df)

    ckpt.checkpoint = recording_checkpoint
    try:
        for name in names:
            entering.clear()
            try:
                with ckpt.scope():
                    text = _fmt_plan(QUERIES[name](spark, sf))
                if "ExistingRDD" in text and entering:
                    text += (
                        f"\n# --- checkpoint-transparent addendum: the final frame is a"
                        f"\n# --- checkpoint leaf; below is the plan of the frame that"
                        f"\n# --- ENTERED the last checkpoint ({len(entering)} recorded"
                        f"\n# --- while building this query) ---\n" + entering[-1]
                    )
            except Exception as exc:  # noqa: BLE001 - record, keep dumping
                text = f"ERROR dumping plan: {exc!r}\n"
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(f"# {name} — explain('formatted') @ {sf} [{suffix}]\n")
                f.write(text)
            print(f"wrote {path}")
    finally:
        ckpt.checkpoint = checkpoint


def main() -> None:
    import bench
    from klinker_spark.session import get_spark

    if len(sys.argv) == 1:
        plans_md(get_spark("plansdump"))
        return
    outdir, suffix, *rest = sys.argv[1:]
    sf = rest[0] if rest else bench.SF_DIR
    per_query(get_spark("plansdump"), outdir, suffix, sf, rest[1:] or DEFAULT_QUERIES)


if __name__ == "__main__":
    main()
