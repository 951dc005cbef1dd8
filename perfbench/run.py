#!/usr/bin/env python3
"""Benchmark of the vector engine: online search under index churn, and the
dedup pipeline.

    python3 perfbench/run.py --workload index_churn --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see ``perfbench/README.md``). The line before it holds the session
settings and each workload's own figures. Traced runs also write their
spans to ``.perfbench_out/``. Everything else the run writes (inputs, index
data, Spark scratch) lives in a per-run directory under ``.perfbench_tmp/``
that is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["index_churn", "dedup_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import cuda_acceleratedvectordatabaseengine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import report
    from perfbench import trace as T
    from perfbench.harness import Run
    from perfbench.workloads import SCALES, WORKLOADS

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    # Spark's Python workers import the package too; stray files land in
    # the run directory, which is removed at the end
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = run_dir
    cwd = os.getcwd()
    os.chdir(run_dir)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              SCALES[args.scale][args.workload], run_dir)
    try:
        if run.tracer is not None:
            report.install_wrappers(run)
        steal0, total0 = T.cpu_ticks()
        with T.PeakRss() as rss:
            WORKLOADS[args.workload](run)
            if run.tracer is not None:
                run.collect_counts()
            run.stop_session()
        steal1, total1 = T.cpu_ticks()
        if args.trace:
            metrics = report.per_layer(run, T.read_event_log(run.path("events")))
            units = {n: u for n, u, _b in report.PER_LAYER}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        else:
            metrics = run.end_to_end(rss.peak_mb)
            units = {n: u for n, u, _b, _bound in report.END_TO_END}
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "session": run.session_info, "detail": run.detail,
            "op_ms": run.op_ms, "measured_s": run.measured_s,
            "host_cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        }, default=float))
        print(json.dumps({
            "correct": run.failed == 0 and run.attempted > 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
        }))
        return 0
    finally:
        run.stop_session()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
