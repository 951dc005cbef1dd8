"""The metrics the benchmark declares, the span wrappers of the traced run,
and the fold from spans, job counts and event-log totals to per-layer
metrics.

Every workload prints every declared metric. A per-layer metric of a layer
that a workload does not exercise reads 0 on that workload.
"""

from __future__ import annotations

import math
import os
import statistics
from collections import defaultdict

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("quality", "fraction", "higher", 0.02),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("success_rate", "fraction", "higher", 0.01),
]

# Spark accounting per measured operation (every workload)
_SPARK_PER_OP = [
    ("spark.jobs_per_op", "count", "jobs"),
    ("spark.stages_per_op", "count", "stages"),
    ("spark.tasks_per_op", "count", "tasks"),
    ("spark.executor_run_ms_per_op", "ms", "executor_run_ms"),
    ("spark.executor_cpu_ms_per_op", "ms", "executor_cpu_ms"),
    ("spark.driver_gap_ms_per_op", "ms", "driver_gap_ms"),
    ("spark.gc_ms_per_op", "ms", "gc_ms"),
    ("spark.shuffle_write_bytes_per_op", "bytes", "shuffle_write_bytes"),
    ("spark.spill_bytes_per_op", "bytes", "spill_bytes"),
    ("spark.input_bytes_per_op", "bytes", "input_bytes"),
    ("spark.files_read_per_op", "count", "files_read"),
]

# Spark accounting per occurrence of one phase (job group suffix)
_PHASES = {
    "churn.build": ("shuffle_write_bytes", "spill_bytes", "gc_ms"),
    "churn.add": ("shuffle_write_bytes", "spill_bytes", "gc_ms"),
    "churn.delete": ("shuffle_write_bytes", "spill_bytes", "gc_ms"),
    "churn.search": ("shuffle_write_bytes", "spill_bytes", "gc_ms",
                     "input_bytes", "files_read"),
    "churn.compact": ("shuffle_write_bytes", "spill_bytes", "gc_ms"),
    "dedup.exact": ("executor_cpu_ms", "shuffle_write_bytes"),
    "dedup.minhash_pairs": ("executor_cpu_ms", "shuffle_write_bytes"),
    "dedup.clusters": ("executor_cpu_ms", "shuffle_write_bytes"),
    "textops.chunk_embed": ("executor_cpu_ms", "shuffle_write_bytes"),
}
_UNITS = {"shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "gc_ms": "ms",
          "input_bytes": "bytes", "files_read": "count", "executor_cpu_ms": "ms"}

# spans: (metric, unit, span name, self time?, measured operations only?)
# The search-layer spans are taken from the online requests only, not from
# the bulk searches of index_churn.
_SPANS = [
    ("service.search.self_ms", "ms", "service.search", True, True),
    ("ivf.search.ms", "ms", "ivf.search", False, True),
    ("knn.collect_query_matrix.ms", "ms", "knn.collect_query_matrix", False, True),
    ("ivf.select_nprobe_lists.ms", "ms", "ivf.select_nprobe_lists", False, True),
    ("kmeans.train.ms", "ms", "kmeans.train", False, False),
    ("epochs.write_epoch.ms", "ms", "epochs.write_epoch", False, False),
    ("ivf.add.ms", "ms", "ivf.add", False, False),
    ("ivf.delete.ms", "ms", "ivf.delete", False, False),
    ("ivf.compact.ms", "ms", "ivf.compact", False, False),
    ("dedup.exact.ms", "ms", "dedup.exact", False, True),
    ("dedup.minhash_pairs.ms", "ms", "dedup.minhash_pairs", False, True),
    ("dedup.clusters.ms", "ms", "dedup.clusters", False, True),
    ("textops.chunk_embed.ms", "ms", "textops.chunk_embed", False, True),
]

_OTHER = [
    ("session.start_ms", "ms", "lower"),
    ("trace.overhead_share", "fraction", "lower"),
    ("ivf.rows_scanned_per_result", "count", "lower"),
    ("ivf.hot_list_probe_share", "fraction", "higher"),
    ("epochs.bytes_written", "bytes", "lower"),
    ("epochs.files_written", "count", "lower"),
    ("epochs.chain_length", "count", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.candidate_yield", "fraction", "higher"),
]


def _phase_metric(phase: str, field: str) -> str:
    return f"spark.{phase.replace('.', '_')}.{field}"


PER_LAYER = (
    [(n, u, "lower") for n, u, _f in _SPARK_PER_OP]
    + [(n, u, "lower") for n, u, *_ in _SPANS]
    + [(_phase_metric(ph, f), _UNITS[f], "lower") for ph, fs in _PHASES.items() for f in fs]
    + _OTHER
)


# -- wrappers ------------------------------------------------------------------

def install_wrappers(run) -> None:
    """Wrap the engine's public functions named by the per-layer metrics."""
    from cuda_acceleratedvectordatabaseengine_spark import service
    from cuda_acceleratedvectordatabaseengine_spark.operators import dedup as DD
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf
    from cuda_acceleratedvectordatabaseengine_spark.operators import kmeans as KM
    from cuda_acceleratedvectordatabaseengine_spark.operators import knn
    from cuda_acceleratedvectordatabaseengine_spark.sources import epochs as E

    tr = run.tracer

    def keep_probe(_rec, _args, _kwargs, out):
        if (tr.request or "").startswith("op"):
            run.probes.append(out)

    def epoch_size(rec, args, _kwargs, out):
        mgr, epoch = args[0], out[0]
        n = size = 0
        for root, _d, files in os.walk(mgr.epoch_dir(epoch)):
            n += len(files)
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        rec["files"], rec["bytes"] = n, size

    def keep_candidates(_rec, _args, _kwargs, out):
        run.candidates = out

    tr.wrap(service.VectorEngine, "search", "service.search")
    tr.wrap(ivf.IVFIndex, "search", "ivf.search")
    tr.wrap(ivf.IVFIndex, "add", "ivf.add")
    tr.wrap(ivf.IVFIndex, "delete", "ivf.delete")
    tr.wrap(ivf.IVFIndex, "compact", "ivf.compact")
    tr.wrap(ivf, "select_nprobe_lists", "ivf.select_nprobe_lists", keep_probe)
    tr.wrap(knn, "collect_query_matrix", "knn.collect_query_matrix")
    tr.wrap(KM, "train", "kmeans.train")
    tr.wrap(E.EpochManager, "write_epoch", "epochs.write_epoch", epoch_size)
    tr.wrap(E.EpochManager, "write_tombstone_epoch", "epochs.write_tombstone_epoch", epoch_size)
    tr.wrap(DD, "lsh_candidate_pairs", "dedup.lsh_candidate_pairs", keep_candidates)


# -- folding -------------------------------------------------------------------

def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(run, event_totals: dict[str, dict]) -> dict[str, float]:
    tr = run.tracer
    out = {name: 0.0 for name, _u, _b in PER_LAYER}

    # Spark accounting folded per operation (job group prefix "op<i>/") and
    # per phase; set-up and the tracer's own jobs are left out
    per_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    per_phase: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    phase_n: dict[str, set] = defaultdict(set)
    for group in set(run.counts) | set(event_totals):
        key, phase = group.split("/", 1)
        if key in ("setup", "trace"):
            continue
        vals = {**run.counts.get(group, {}), **event_totals.get(group, {})}
        for f, v in vals.items():
            per_phase[phase][f] += v
            if key.startswith("op"):
                per_op[key][f] += v
        phase_n[phase].add(group)
    for key, vals in per_op.items():
        vals["driver_gap_ms"] = run.op_wall.get(key, 0.0) - vals.get("critical_task_ms", 0.0)
    ops = [k for k in per_op if k in run.op_wall]
    for name, _u, field in _SPARK_PER_OP:
        out[name] = _median(per_op[k].get(field, 0.0) for k in ops)
    for phase, fields in _PHASES.items():
        n = len(phase_n.get(phase, ()))
        for f in fields:
            out[_phase_metric(phase, f)] = per_phase[phase].get(f, 0.0) / n if n else 0.0

    for name, _u, span, self_time, ops_only in _SPANS:
        prefix = "op" if ops_only else None
        out[name] = _median(tr.self_ms(span, prefix) if self_time else tr.durations(span, prefix))

    out["session.start_ms"] = run.session_ms
    on = [ms for ms, t in zip(run.op_ms, run.op_traced) if t]
    off = [ms for ms, t in zip(run.op_ms, run.op_traced) if not t]
    if on and off:
        out["trace.overhead_share"] = _median(on) / _median(off) - 1.0

    # rows the pruned scans read per result row returned
    if run.workload == "index_churn":
        groups = [g for g in run.notes if g.startswith("op") and g.endswith("/churn.request")]
        results = sum(run.notes[g].get("results", 0) for g in groups)
        records = sum(event_totals.get(g, {}).get("input_records", 0.0) for g in groups)
        out["ivf.rows_scanned_per_result"] = records / results if results else 0.0
    if run.probes:
        hits = defaultdict(int)
        for probe in run.probes:
            for lid in probe.ravel().tolist():
                hits[lid] += 1
        top = sorted(hits.values(), reverse=True)[: max(1, math.ceil(run.p["nlist"] / 10))]
        out["ivf.hot_list_probe_share"] = sum(top) / sum(hits.values())

    writes = [s for s in tr.spans if s["name"].startswith("epochs.write_") and "bytes" in s]
    if writes:
        out["epochs.bytes_written"] = statistics.fmean(s["bytes"] for s in writes)
        out["epochs.files_written"] = statistics.fmean(s["files"] for s in writes)
    if run.chain_lengths:
        out["epochs.chain_length"] = statistics.fmean(run.chain_lengths)

    outs = [o for o in run.dedup_outputs if "candidates" in o]
    if outs:
        cand = statistics.fmean(o["candidates"] for o in outs)
        ver = statistics.fmean(len(o["pairs"]) for o in outs)
        out["dedup.candidate_pairs"] = cand
        out["dedup.verified_pairs"] = ver
        out["dedup.candidate_yield"] = ver / cand if cand else 0.0
    return out
