"""Dump ``explain("formatted")`` for a set of queries to per-query files.

Companion to the optimization-round deliverable
``plans/r<NN>/<query>_{before,after}.txt``: run this at the pre-round
commit (in a worktree) with suffix ``before`` and at HEAD with suffix
``after``.

Checkpoint transparency (r12 verdict #4): a query whose return frame is
a ``localCheckpoint`` leaf explains as a one-line ``Scan ExistingRDD``,
which proves nothing about the computation.  While dumping we wrap
``DataFrame.localCheckpoint`` to record the formatted plan of every
frame *entering* a checkpoint; when the final plan contains an
``ExistingRDD`` leaf, the last recorded pre-checkpoint plan (the
terminal checkpoint's input — the real computation) is appended under a
labeled separator.

Usage: python scripts/dump_round_plans.py OUTDIR SUFFIX [SF_DIR] [query ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, ".")

DEFAULT_QUERIES = [
    # r13 touched set (kept from r12 where still relevant)
    "pagerank_importance",
    "personalized_pagerank",
    "duplicated_span_stats",
    "minhash_dedup",
    "ngram_containment_dedup",
    "edit_distance_dedup",
    "bpe_train_merges",
    "lsh_precision_recall_audit",
]


def _fmt_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2]
    sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:] or DEFAULT_QUERIES
    os.makedirs(outdir, exist_ok=True)

    from klinker_spark.queries import QUERIES
    from klinker_spark.session import get_spark

    spark = get_spark("plansdump")

    # record every pre-checkpoint plan while a query builds — patch the
    # CONCRETE DataFrame class (Spark 4's classic subclass overrides
    # localCheckpoint, so patching pyspark.sql.DataFrame records nothing)
    df_cls = type(spark.range(1))
    preckpt: list[str] = []
    orig_lc = df_cls.localCheckpoint

    def recording_lc(self, *args, **kwargs):
        try:
            preckpt.append(_fmt_plan(self))
        except Exception:  # noqa: BLE001 - recording must never break a query
            pass
        return orig_lc(self, *args, **kwargs)

    df_cls.localCheckpoint = recording_lc
    try:
        for name in names:
            preckpt.clear()
            try:
                df = QUERIES[name](spark, sf)
                text = _fmt_plan(df)
                if "ExistingRDD" in text and preckpt:
                    text += (
                        f"\n# --- checkpoint-transparent addendum: the final frame is a"
                        f"\n# --- localCheckpoint leaf; below is the plan of the frame that"
                        f"\n# --- ENTERED the terminal checkpoint (checkpoint {len(preckpt)}"
                        f"\n# --- of {len(preckpt)} recorded while building this query) ---\n"
                        + preckpt[-1]
                    )
            except Exception as exc:  # noqa: BLE001 - record, keep dumping
                text = f"ERROR dumping plan: {exc!r}\n"
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(f"# {name} — explain('formatted') @ {sf} [{suffix}]\n")
                f.write(text)
            print(f"wrote {path}")
    finally:
        df_cls.localCheckpoint = orig_lc


if __name__ == "__main__":
    main()
