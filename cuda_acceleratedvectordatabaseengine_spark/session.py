"""SparkSession factory with scale-appropriate defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]``, by default every core this
process may run on; the configs below are the ones that matter identically
on a 1000-executor cluster: AQE on (runtime re-plan, skew-join handling,
partition coalescing), Arrow on (the pandas-UDF hot path moves columnar
batches, the analog of the reference's Arrow IPC storage + dense GPU scans,
format/storage.cpp:183-226), UTC session time so timestamp semantics match
any SQL oracle.

Python workers start from this package's ``daemon`` module
(``spark.python.daemon.module``), which drops Spark's archives from the
worker ``sys.path`` when the installed pyspark and py4j directories hold
the same release (byte-identical ``version.py``) and a jar holds no Python
at all; every task's ``importlib.invalidate_caches()`` then no longer
re-reads them. Any other archive, or one it cannot read, stays on the
path as Spark put it there. Workers find the module through their cwd and
``PYTHONPATH``, so this package's parent directory is appended to
``spark.executorEnv.PYTHONPATH``. The daemon also imports what a task
imports (numpy, pyarrow, pandas) and freezes that heap before it forks
(see ``daemon``).

The executor talks to those workers over Unix-domain sockets
(``spark.python.unix.domain.socket.enabled``), not loopback TCP: that
alone took 27-47 ms off a no-op 4-task job on a 4-vCPU host (PERF.md,
"Python worker transport"). In that mode PySpark sends no worker auth
secret, so the directory that holds the sockets is the access control:
the process gets its own, made by ``tempfile.mkdtemp`` (mode 0700), short
enough for Spark's 60-character limit and AF_UNIX's 108-byte one
whatever ``TMPDIR`` or ``java.io.tmpdir`` is, and removed when the
process exits (not when a session stops: see ``process_socket_dir``). A
caller's own ``spark.python.unix.domain.socket.dir`` is used as given and
never removed.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory that holds this package, for the workers' PYTHONPATH
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Spark rejects a spark.python.unix.domain.socket.dir of 61 characters or
# more; under it, each ".<uuid4>.sock" path fits AF_UNIX's 108-byte sun_path
_SOCKET_DIR_MAX = 60
_SOCKET_DIR_PREFIX = "cavde-py-"
_socket_dir: str | None = None


def worker_socket_dir() -> str:
    """Create a private (0700) directory for Unix sockets, in
    ``tempfile.gettempdir()`` when its path there is short enough for
    Spark, else in ``/tmp``."""
    # mkdtemp appends 8 random characters to the prefix
    leaf = _SOCKET_DIR_PREFIX + "x" * 8
    for root in (tempfile.gettempdir(), "/tmp"):
        if len(os.fsencode(os.path.join(root, leaf))) <= _SOCKET_DIR_MAX:
            return tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=root)
    raise RuntimeError(
        "no temporary directory is short enough for Unix sockets; set "
        "spark.python.unix.domain.socket.dir to a short private directory"
    )


def process_socket_dir() -> str:
    """This process's Unix-socket directory, made on first use by
    ``worker_socket_dir`` and removed when the process exits. Every
    session ``get_spark`` starts here shares it, because the JVM keeps the
    directory of its first session: ``PythonRDD``'s result server reads
    its conf once per JVM (a lazy ``authHelper``), so removing the
    directory when that session stops would break ``collect`` in every
    later session of the process."""
    global _socket_dir
    if _socket_dir is None:
        _socket_dir = worker_socket_dir()
        atexit.register(shutil.rmtree, _socket_dir, True)
    return _socket_dir


def host_ram_bytes() -> int:
    """Physical RAM of this host."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def mem_available_bytes(meminfo: str | None = None) -> int:
    """Memory a new process can take without swapping: the kernel's
    ``MemAvailable`` estimate from ``meminfo`` (the text of
    ``/proc/meminfo``, read when None). It already counts what other
    processes, a second Spark driver among them, hold. Where there is no
    such figure (a non-Linux host), physical RAM."""
    if meminfo is None:
        try:
            with open("/proc/meminfo") as f:
                meminfo = f.read()
        except OSError:
            return host_ram_bytes()
    for line in meminfo.splitlines():
        if line.startswith("MemAvailable:"):
            return int(line.split()[1]) * 1024
    return host_ram_bytes()


def default_driver_mem(meminfo: str | None = None) -> str:
    """The driver heap when ``$SPARK_GRAFT_DRIVER_MEM`` is unset:
    ``min(8g, half of available memory)``, in MiB. Sized against what is
    free rather than physical RAM, so a second session started beside a
    running one takes half of what is left, not half of the host."""
    half_mib = mem_available_bytes(meminfo) // (2 << 20)
    return f"{min(8 << 10, half_mib)}m"


def heap_bytes(mem: str) -> int:
    """Bytes of a JVM memory string (``512m``, ``8g``, ``7680``); a bare
    number is MiB, as ``spark.driver.memory`` reads it."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", mem.lower())
    if m is None:
        raise ValueError(f"unreadable heap size {mem!r}")
    shift = {"k": 10, "": 20, "m": 20, "g": 30, "t": 40}[m.group(2)]
    return int(m.group(1)) << shift


def check_heap_fits(mem: str, meminfo: str | None = None) -> None:
    """Raise before a JVM starts when a pre-touched heap of ``mem`` is more
    than the host has available: the JVM would commit all of it at start,
    and the kernel's OOM killer, not this call, would then pick which
    process dies, possibly another session's JVM."""
    need, avail = heap_bytes(mem), mem_available_bytes(meminfo)
    if need > avail:
        raise RuntimeError(
            f"the pre-touched driver heap of {mem} ({need >> 20} MiB) does "
            f"not fit in the {avail >> 20} MiB this host has available; "
            "set SPARK_GRAFT_DRIVER_MEM to a smaller heap, or "
            "SPARK_GRAFT_PRETOUCH=0 to grow it on demand"
        )


def get_spark(
    app_name: str = "cavde-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else the cores in this
    process's affinity mask (not the machine's count, which a container
    or taskset may not grant). ``spark.sql.shuffle.partitions`` defaults
    to ``$SPARK_GRAFT_SHUFFLE_PARTITIONS``, else that resolved core count
    rather than Spark's 200: at 100 TB the real setting comes from AQE
    advisory sizes, locally 200 tiny tasks just add scheduler overhead.
    """
    cpus = int(
        cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or cpus
    )
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    # Pre-fault the whole heap at JVM start (-Xms = -Xmx + AlwaysPreTouch):
    # standard practice for dedicated Spark drivers/executors (fixed-size
    # heap, no uncommit/recommit churn). On this host it is load-bearing:
    # fresh anonymous pages fault at ~0.1-0.35 GB/s (measured first-touch
    # probes, OPTIMIZATION_r14.md), so a lazily-grown heap pays that cost
    # INSIDE timed queries; pre-touching moves it to startup. Interleaved
    # A/B on the bench IVF workload: add_time 10.65s -> 5.84s min-of-reps
    # (scripts/ab_pretouch.py). On a normally-fast host the pretouch is
    # <2s of startup. Opt out with SPARK_GRAFT_PRETOUCH=0.
    pretouch = os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect advisoryPartitionSizeInBytes when coalescing instead of
        # targeting the core count (the Spark docs' own recommendation for
        # this flag). parallelismFirst=true kept every small shuffle at
        # ~defaultParallelism near-empty partitions, so tiny cached
        # relations carried 32 partitions into every downstream stage —
        # measured r15 interleaved A/B over a 9-row catalog slice:
        # 23.95s vs 28.97s and 18.24s vs 20.71s (false wins both pairs,
        # nearly every row; scripts/ab_parallelism_first.py). At cluster
        # scale this is the setting that sizes partitions by bytes
        # (guide §2.2), not a local-core-count tune.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long nanos, converted in sources.tables.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", f"{__package__}.daemon")
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    new_context = SparkContext._active_spark_context is None
    if pretouch and new_context:
        # only a new JVM commits a heap; getOrCreate reuses a live one
        check_heap_fits(mem)
    conf = dict(extra_conf or {})
    if new_context and "spark.python.unix.domain.socket.dir" not in conf:
        builder = builder.config(
            "spark.python.unix.domain.socket.dir", process_socket_dir()
        )
    user_path = conf.get("spark.executorEnv.PYTHONPATH", "")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (user_path, _PACKAGE_ROOT) if p
    )
    if pretouch:
        # merge with (not replace) any caller-supplied extraJavaOptions;
        # caller flags come last so they win on a conflicting -Xms. On
        # memory-constrained hosts where eagerly committing the full heap
        # would fail or swap, opt out with SPARK_GRAFT_PRETOUCH=0.
        user_opts = conf.get("spark.driver.extraJavaOptions", "")
        conf["spark.driver.extraJavaOptions"] = (
            f"-Xms{mem} -XX:+AlwaysPreTouch " + user_opts
        ).strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
