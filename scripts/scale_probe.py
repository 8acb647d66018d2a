"""Scaling probe beyond the bench's 10x: time a set of queries at two
scale factors and report the per-query scaling exponent
``log(t_hi/t_lo) / log(sf_hi/sf_lo)``.  Each point is the faster of two
runs through ``bench.run_lane`` in one session, so codegen and scan
first-touch costs don't masquerade as scaling; each side's executor
CPU seconds (``cpu_s``) are reported next to its wall time, so a wall
ratio the CPU ratio does not share is host noise, not scaling.

Usage: python scripts/scale_probe.py <lo_dir> <hi_dir> <ratio> [query ...]

Exponent reading: 1.0 = linear, <1 sublinear, >1 the query has a
superlinear term that 100 TB will amplify — investigate before
believing SCALE.md's envelope for it.
"""

from __future__ import annotations

import json
import math
import sys

sys.path.insert(0, ".")

DEFAULT_QUERIES = [
    "standard_blocking",
    "minhash_dedup",
    "simhash_dedup",
    "semdedup",
    "line_dedup",
    "cm_token_freq",
    "hll_distinct_sketch",
    "pagerank_importance",
    "knn_topk",
    "quality_score",
]


def main() -> None:
    lo_dir, hi_dir, ratio = sys.argv[1], sys.argv[2], float(sys.argv[3])
    names = sys.argv[4:] or DEFAULT_QUERIES

    import bench
    import klinker_spark as ks

    spark = ks.get_spark("scale_probe")
    ks.session.warm_python_workers(spark)  # once-per-worker BLAS/tile boot, untimed

    def best_of_two(name: str, sf_dir: str) -> dict:
        runs = []
        for _ in range(2):
            bench._reset(spark)
            runs.append(bench.run_lane(spark, name, sf_dir))
        return min(runs, key=lambda r: r["wall"])

    out = {}
    for name in names:
        lo, hi = best_of_two(name, lo_dir), best_of_two(name, hi_dir)
        t_lo, t_hi = lo["wall"], hi["wall"]
        exp = round(math.log(t_hi / t_lo) / math.log(ratio), 2) if t_lo > 0 else None
        out[name] = {
            "t_lo": round(t_lo, 2),
            "t_hi": round(t_hi, 2),
            "cpu_lo": round(lo["cpu_s"], 2),
            "cpu_hi": round(hi["cpu_s"], 2),
            "exponent": exp,
        }
        print(
            f"# {name}: {t_lo:.2f}s -> {t_hi:.2f}s exp={exp} "
            f"(cpu {lo['cpu_s']:.2f}s -> {hi['cpu_s']:.2f}s)",
            file=sys.stderr,
        )
    print(json.dumps({"ratio": ratio, "lo": lo_dir, "hi": hi_dir, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
