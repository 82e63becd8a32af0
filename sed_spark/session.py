"""SparkSession construction with scale-appropriate defaults.

Centralizes the session config so tests, bench, and the driver entry all get
the same tuning: AQE on (runtime shuffle-partition coalescing + skew-join
handling), Arrow for any pandas interchange, parquet filter/aggregate
pushdown. On a real cluster these same settings apply unchanged; only
``master`` and memory sizing differ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return int(cpus)
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "sed-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning.

    At 100 TB scale the same logical plans run unchanged; shuffle sizing is
    left to AQE (``spark.sql.adaptive.coalescePartitions``) so the static
    ``shuffle_partitions`` only sets the initial upper bound.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(default_parallelism(), 32)

    builder = SparkSession.builder.appName(app_name).master(master)
    # HotSpot's default 240 MB ReservedCodeCacheSize (116 MB 'profiled
    # nmethods' segment) overflows on multi-query workloads: 16 suite
    # queries measured 83/116 MB profiled-nmethods occupancy, and past
    # the limit UseCodeCacheFlushing evicts warm methods which C2 then
    # re-profiles and re-compiles — the continuous compile churn the
    # bench's canary_jit field records (30-60 s summed compiler-thread
    # time on single reps). Reserving more is virtual address space, not
    # committed RAM, so the default is raised wherever this process
    # launches the driver JVM (a cluster deployment sets the same flag in
    # spark.driver/executor.extraJavaOptions). Merged in front of any
    # caller-supplied extraJavaOptions so an explicit caller flag still wins.
    caller_opts = (extra_conf or {}).get("spark.driver.extraJavaOptions", "")
    merged_opts = f"-XX:ReservedCodeCacheSize=512m {caller_opts}".strip()
    conf = {
        "spark.driver.extraJavaOptions": merged_opts,
        # Spark's generated-class cache holds 100 entries by default;
        # the engine's bigger plans exceed that PER QUERY (q_simhash
        # measured 142 codegen units per execution — every rep
        # re-janino-compiled all of them, and HotSpot re-JIT'd the
        # fresh classes: 10-26 s of summed compiler time per rep,
        # forever). At 5000 entries the janino recompiles collapse
        # (426 -> ~20 bytecode compilations by rep 4) and compile churn
        # decays instead of persisting. Static conf (applies at first
        # session in the JVM); the cap bounds entries, not memory —
        # usage equals the workload's distinct codegen units.
        "spark.sql.codegen.cache.maxEntries": "5000",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # big Arrow batches amortize per-batch overhead where batches move:
        # the dfield pandas UDF, the ms-marker timestamp UDFs and binning's
        # Arrow collect of the aggregate
        "spark.sql.execution.arrow.maxRecordsPerBatch": "500000",
        "spark.sql.parquet.filterPushdown": "true",
        # driver-generated testdata carries TIMESTAMP(NANOS) parquet columns,
        # which Spark has no native type for — surface them as int64 nanos
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.driver.maxResultSize": "4g",
    }
    # Single-node local mode writes shuffle files to spark.local.dir; on the
    # bench VM that is a virtual disk with highly variable throughput
    # (measured 10-106 s for the SAME 1e8-row 100^4 hash-agg). RAM-backed
    # tmpfs removes that variance. Only applied for local[*] masters —
    # a real cluster's local dirs are the cluster's NVMe, configured there.
    #
    # tmpfs garbage IS RAM: a SIGKILLed JVM leaves its shuffle dirs behind
    # (measured 74 GB of orphans starving later JVMs into OOM kills), so
    # each process gets its own pid-named subdir, removed at exit, and
    # every session start sweeps siblings whose creator pid is gone.
    if master.startswith("local") and os.path.isdir("/dev/shm"):
        import atexit
        import shutil

        base = "/dev/shm/sed-spark-local"
        mydir = os.path.join(base, str(os.getpid()))
        try:
            os.makedirs(mydir, exist_ok=True)
            for d in os.listdir(base):
                if d != str(os.getpid()) and d.isdigit() \
                        and not os.path.exists(f"/proc/{d}"):
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            atexit.register(shutil.rmtree, mydir, ignore_errors=True)
            conf.setdefault("spark.local.dir", mydir)
        except OSError:
            conf.setdefault("spark.local.dir", base)
    if extra_conf:
        conf.update(extra_conf)
        # keep the code-cache flag when the caller also passes driver
        # options (their flags follow, so an explicit caller
        # ReservedCodeCacheSize still wins — last flag takes effect)
        conf["spark.driver.extraJavaOptions"] = merged_opts
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
