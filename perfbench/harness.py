"""Run state shared by the workloads: the Spark session pinned to the host,
operation timing, job groups, correctness accounting, and the metrics the
run prints."""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import sys
import time
import traceback

from . import trace as T

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A sixteenth of host memory, clamped to [512 MB, 2 GB]: the inputs
    are small, and the host is shared."""
    return max(512, min(2048, host_mem_mb() // 16))


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 scale: dict, run_dir: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.p = scale
        self.run_dir = run_dir
        self.spark = None
        self.tracer = T.Tracer() if traced else None
        self.key = "setup"
        self.n_ops = 0
        self.op_ms: list[float] = []
        self.op_traced: list[bool] = []
        self.measured_s = 0.0
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.quality: list[float] = []
        self.setup_s = 0.0
        self.session_ms = 0.0
        self.groups: list[str] = []
        self.counts: dict[str, dict] = {}
        self.detail: dict = {}
        self.session_info: dict = {}
        self.op_wall: dict[str, float] = {}
        self.current_group: str | None = None
        self.notes: dict[str, dict] = {}
        # filled by the workloads and the span wrappers, read by report
        self.probes: list = []
        self.chain_lengths: list[int] = []
        self.candidates = None
        self.dedup_outputs: list[dict] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- session -------------------------------------------------------------
    def start_session(self) -> None:
        """Start Spark through the package's ``get_spark`` with the core
        count, shuffle partitions and heap taken from this host, and fail if
        the live master differs from the one asked for."""
        cpus = host_cpus()
        heap = f"{driver_heap_mb()}m"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
        # a fixed-size heap, touched at JVM start: first touches of fresh
        # pages are slow on a VM whose memory the host backs lazily, and
        # without this they land in the measured operations
        os.environ["SPARK_GRAFT_PRETOUCH"] = "1"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('jvm-tmp')} -XX:-UsePerfData"
            ),
        }
        if self.traced:
            os.makedirs(self.path("events"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.makedirs(self.path("jvm-tmp"))
        from cuda_acceleratedvectordatabaseengine_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", cpus=cpus,
            shuffle_partitions=cpus, extra_conf=conf,
        )
        self.session_ms = (time.perf_counter() - t0) * 1000.0
        want = f"local[{cpus}]"
        live = self.spark.sparkContext.master
        if live != want:
            raise RuntimeError(f"live master {live!r} differs from the requested {want!r}")
        sc = self.spark.sparkContext
        worker_env = sc.parallelize([0], 1).map(
            lambda _: {k: os.environ.get(k) for k in
                       ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")}
        ).collect()[0]
        self.session_info = {
            "master": live,
            "driver_heap": sc.getConf().get("spark.driver.memory"),
            "pretouch": "AlwaysPreTouch" in (sc.getConf().get("spark.driver.extraJavaOptions") or ""),
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_blas_threads": {k: os.environ.get(k) for k in
                                    ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")},
            "worker_blas_threads": worker_env,
        }

    def stop_session(self) -> None:
        """Stop Spark, then the JVM it launched, and wait until the JVM and
        every Python worker have exited."""
        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = T.descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        T.wait_gone(kids)

    # -- timing --------------------------------------------------------------
    @contextlib.contextmanager
    def setup_phase(self):
        """Session start plus the workload's ingest and warm-up. Spans are
        recorded here only inside ``traced_setup``, so cold warm-up calls
        stay out of the per-layer figures."""
        t0 = time.perf_counter()
        self.key = "setup"
        if self.tracer is not None:
            self.tracer.enabled = False
        yield
        if self.tracer is not None:
            self.tracer.enabled = True
        self.setup_s = time.perf_counter() - t0

    @contextlib.contextmanager
    def traced_setup(self, key: str):
        """Set-up work whose spans and Spark accounting count in the
        per-layer figures under job-group key ``key``."""
        self.key = key
        if self.tracer is not None:
            self.tracer.enabled = True
        try:
            yield
        finally:
            self.key = "setup"
            if self.tracer is not None:
                self.tracer.enabled = False

    @contextlib.contextmanager
    def group(self, phase: str):
        """Tag every Spark job inside with the job group ``<key>/<phase>``
        and, when traced, record a span. The group's job counts are read
        by ``collect_counts`` once the workload is done, so the polling
        stays out of every timed region."""
        name = f"{self.key}/{phase}"
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        self.current_group = name
        if self.tracer is not None and self.key != "setup":
            self.groups.append(name)
        try:
            if self.tracer is None:
                yield
            else:
                with self.tracer.span(phase):
                    yield
        finally:
            self.current_group = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def collect_counts(self) -> None:
        """Jobs, stages and tasks of every job group the run tagged."""
        sc = self.spark.sparkContext
        for name in self.groups:
            self.counts[name] = T.group_counts(sc, name)

    @contextlib.contextmanager
    def op(self):
        """One measured operation. Its wall time counts toward the measured
        seconds; a failure is counted and the workload continues. In a
        traced run every second operation runs with span recording paused,
        which gives the tracing overhead within one process."""
        i = self.n_ops
        self.n_ops += 1
        self.key = f"op{i}"
        traced = self.tracer is not None and i % 2 == 0
        if self.tracer is not None:
            self.tracer.enabled = traced
            self.tracer.request = self.key
        state = {"ok": False}
        t0 = time.perf_counter()
        try:
            yield state
            state["ok"] = True
        except Exception:
            self.check([f"{self.key} raised:\n{traceback.format_exc()}"])
        finally:
            dt = time.perf_counter() - t0
            self.measured_s += dt
            if state["ok"]:
                self.op_wall[self.key] = dt * 1000.0
                self.op_ms.append(dt * 1000.0)
                self.op_traced.append(traced)
            if self.tracer is not None:
                self.tracer.enabled = True
                self.tracer.request = None

    def note(self, **values) -> None:
        """Attach counts to the current job group (e.g. result rows)."""
        self.notes.setdefault(self.current_group, {}).update(values)

    def time_left(self) -> bool:
        return self.measured_s < self.seconds

    # -- correctness ---------------------------------------------------------
    def check(self, errs: list[str]) -> None:
        """One checked operation: counted as attempted, and as failed when
        its check reported anything or it raised."""
        self.attempted += 1
        if errs:
            self.failed += 1
            print(f"[perfbench] FAILED: {'; '.join(errs[:3])}", file=sys.stderr)

    # -- results -------------------------------------------------------------
    def end_to_end(self, peak_rss_mb: float) -> dict:
        if not self.op_ms:
            raise RuntimeError("no operation completed")
        return {
            "setup_s": self.setup_s,
            "op_p50_ms": statistics.median(self.op_ms),
            "items_per_s": self.items / self.measured_s,
            "quality": statistics.fmean(self.quality),
            "peak_rss_mb": peak_rss_mb,
            "success_rate": 1.0 - self.failed / max(1, self.attempted),
        }
