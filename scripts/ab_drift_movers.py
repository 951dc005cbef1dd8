"""Interleaved drift adjudication for the two r11 movers (r11 verdict #1c).

The r11 driver bench moved `pipeline_curation_funnel` 9.78s -> 17.23s
(x1.76) and `text_bpe_pair_counts` 0.60s -> 2.13s (x3.53) round-over-round
while their code (operators/curation.py, operators/bpe.py and every module
they import) was byte-identical to r10 — the builder's thesis was box
drift, but no interleaved measurement existed to prove it. This script IS
that measurement: the two movers plus two anchor queries that stayed flat
in the same driver run (`q1_scan_filter` x1.05, `dedup_minhash_lsh` x0.81)
run INTERLEAVED within one process for N rounds, so any machine-level slow
window hits movers and anchors alike. Protocol: min-of-reps per arm
(PERF.md house rule since r8 — this box shows 2-4x single-shot drift).

Reading the result:
- movers' min ~= their r10 walls while anchors also sit at their r10
  walls -> the r11 driver numbers were drift; verdict recorded in PERF.md.
- movers' min ~= the r11 driver walls (with anchors flat) -> a real
  regression this script cannot attribute to code (none changed) — would
  point at data or environment, and the verdict says so.

Usage: python scripts/ab_drift_movers.py [--reps N] [sf_dir]
Prints one JSON line; artifact goes to scripts/artifacts_drift_movers.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cuda_acceleratedvectordatabaseengine_spark.plans import queries as Q
from cuda_acceleratedvectordatabaseengine_spark.session import get_spark

MOVERS = ["pipeline_curation_funnel", "text_bpe_pair_counts"]
ANCHORS = ["q1_scan_filter", "dedup_minhash_lsh"]
# the r10 vs r11 driver walls this run adjudicates (BENCH_r10/r11.json)
DRIVER_WALLS = {
    "pipeline_curation_funnel": {"r10": 9.775, "r11": 17.233},
    "text_bpe_pair_counts": {"r10": 0.603, "r11": 2.127},
    "q1_scan_filter": {"r10": 0.232, "r11": 0.244},
    "dedup_minhash_lsh": {"r10": 4.29, "r11": 3.459},
}


def main() -> None:
    reps = 5
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    pos = [a for a in sys.argv[1:] if not a.startswith("--") and not a.isdigit()]
    sf_dir = pos[0] if pos else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="cavde-ab-drift")
    spark.range(1000).selectExpr("sum(id)").collect()
    ncpu = spark.sparkContext.defaultParallelism
    spark.range(ncpu * 4, numPartitions=ncpu).mapInArrow(
        lambda it: it, "id long"
    ).count()

    specs = Q.all_specs()
    names = MOVERS + ANCHORS
    samples: dict[str, list[float]] = {n: [] for n in names}
    for r in range(reps):
        for name in names:  # interleave: every round touches every arm
            t0 = time.perf_counter()
            n_rows = specs[name].spark(spark, sf_dir).count()
            wall = round(time.perf_counter() - t0, 3)
            samples[name].append(wall)
            print(f"# round {r} {name}: {wall:.3f}s ({n_rows} rows)",
                  file=sys.stderr)

    def _stats(v: "list[float]") -> dict:
        s = sorted(v)
        return {"min": s[0], "median": s[len(s) // 2], "max": s[-1]}

    out = {
        "metric": "ab_drift_movers",
        "sf_dir": sf_dir,
        "reps": reps,
        "samples": samples,
        "stats": {n: _stats(v) for n, v in samples.items()},
        "driver_walls": DRIVER_WALLS,
        "ratio_min_vs_r10": {
            n: round(_stats(samples[n])["min"] / DRIVER_WALLS[n]["r10"], 3)
            for n in names
        },
    }
    line = json.dumps(out, separators=(",", ":"))
    print(line)
    art = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "artifacts_drift_movers.json")
    with open(art, "w") as fh:
        fh.write(line + "\n")


if __name__ == "__main__":
    main()
