"""SparkSession factory with scale-appropriate defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]``, by default every core this
process may run on; the configs below are the ones that matter identically
on a 1000-executor cluster: AQE on (runtime re-plan, skew-join handling,
partition coalescing), Arrow on (the pandas-UDF hot path moves columnar
batches, the analog of the reference's Arrow IPC storage + dense GPU scans,
format/storage.cpp:183-226), UTC session time so timestamp semantics match
any SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
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
    )
    conf = dict(extra_conf or {})
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
