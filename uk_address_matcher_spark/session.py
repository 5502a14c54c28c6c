"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100TB design point and safe for local[*] testing:
 - AQE on (runtime re-planning, skew-join splitting, partition coalescing)
 - Arrow on (vectorized pandas UDF exchange; the only Python in the hot
   path is Arrow-batched)
 - shuffle partitions sized by caller (cluster: ~2-3x total cores)
 - compiled-class cache of 1024 entries (Spark's default 100 is below
   the ~180 classes one linkage + clustering run generates, so repeat
   runs recompiled every class)
 - driver heap of min(8g, half the host's memory) (_default_driver_memory)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_local_dir() -> str | None:
    """Prefer a tmpfs for shuffle/spill files when one is safe to use.

    Sort-shuffle writes one data+index file pair per map task; on slow
    filesystems the open/close metadata cost dominates for small
    shuffles (measured here: 14s of cumulative write time for 0.8MB of
    shuffle data on the root disk vs microseconds on tmpfs). On a real
    cluster this is the job of fast local NVMe — locally /dev/shm is the
    equivalent.

    Guard rails (tmpfs is RAM: a job that spills BECAUSE memory is short
    must not also spill INTO memory): explicit SPARK_LOCAL_DIRS always
    wins; SPARK_GRAFT_TMPFS_SHUFFLE=0 disables, =1 forces; the default
    ("auto") uses /dev/shm only when its free capacity is at least
    SPARK_GRAFT_TMPFS_MIN_FREE_GB (default 8) GiB, falling back to the
    normal disk local dir otherwise.
    """
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None
    mode = os.environ.get("SPARK_GRAFT_TMPFS_SHUFFLE", "auto")
    if mode == "0":
        return None
    shm = "/dev/shm"
    if not (os.path.isdir(shm) and os.access(shm, os.W_OK)):
        return None
    if mode != "1":
        min_free_gb = float(os.environ.get("SPARK_GRAFT_TMPFS_MIN_FREE_GB", "8"))
        try:
            st = os.statvfs(shm)
            free_gb = st.f_bavail * st.f_frsize / (1 << 30)
        except OSError:
            return None
        if free_gb < min_free_gb:
            return None
    return os.path.join(shm, f"spark-local-{os.getuid()}")


_MEMINFO = "/proc/meminfo"


def _default_driver_memory() -> str:
    """min(8g, MemTotal / 2), or 8g when MemTotal cannot be read. In local
    mode the driver heap is the whole engine's heap: a fixed 8g on a 15 GB
    host let a test JVM grow until the kernel killed it, and every later
    call failed as a refused Py4J connection."""
    try:
        with open(_MEMINFO) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "8g"
    return f"{kb // 2048}m" if kb < 16 << 20 else "8g"


_JAVA_OPTS_KEYS = ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")


def _session_conf(
    master: str, shuffle_partitions: int, extra_conf: dict | None = None
) -> dict[str, str]:
    """The conf get_spark builds its session from, as a plain dict.

    ``extra_conf`` entries override the defaults, except the two
    ``extraJavaOptions`` keys: those are space-joined AFTER the
    SPARK_GRAFT_JAVA_OPTS value (later JVM flags win on conflict), so a
    caller adding e.g. a JFR flag keeps the environment's options."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # This pipeline's pair-scale exchanges are CPU-dense but
        # byte-light (compact signature rows fan out into histogram/map
        # algebra downstream), so AQE's byte-targeted coalescing packs
        # ~50 CPU-core-seconds into one post-shuffle partition: at 1M
        # docs / 16 cores the two second-pass stages were coalesced to
        # 22-24 partitions of ~48 CPU-s each — 1.5 ragged task waves
        # with the last wave mostly idle (event-log profile, round 5).
        # A 16 MB advisory target keeps partition counts high enough
        # for >=2-4 tasks/core at every level we run; tiny shuffles
        # still coalesce (minPartitionSize default 1 MB), and the knob
        # only shapes AQE shuffle reads, not file scans.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
            "SPARK_GRAFT_ADVISORY_PARTITION", "16m"
        ),
        # FILE-scan splits get the same treatment as AQE shuffle reads
        # (and for the same reason): the durable pass artifacts are
        # CPU-dense per byte — the pass-1 scoring stage reads the 552 MB
        # (round-5) blocked-pairs checkpoint and burned ~774 executor-CPU-s on it
        # (~1.9 CPU-s/MB; event-log profile, 1M docs / 16 cores). At the
        # 128 MB default that stage split into 16 tasks — ONE wave at 16
        # cores, so its wall was its slowest task (56.8 s vs a 48.4 s
        # balanced floor). 16 MB keeps scans at >=3 tasks/core at every
        # level run here. On a multi-thousand-core cluster reading
        # 100 TB, raise SPARK_GRAFT_MAX_PARTITION_BYTES back toward
        # 128m: scan-task count stops being the binding constraint long
        # before scheduler pressure does.
        # The 16m default applies ONLY to local[*] masters, where the
        # single-wave scan problem was measured (<=32 cores); on a real
        # cluster the library keeps Spark's 128m — a multi-thousand-core
        # deployment reading 100 TB would otherwise multiply its scan-task
        # count ~8x. SPARK_GRAFT_MAX_PARTITION_BYTES overrides either way.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES",
            "16m" if master.startswith("local") else "128m",
        ),
        # NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # stays at its default (false): enabling it lets AQE coalesce a
        # cached frame's partitions by BYTES, too few for a cache that is
        # small in bytes but feeds CPU-dense work. Small cached frames size
        # their own partitioning explicitly instead (clustering.py
        # loop_parts).
        # Unordered limit-collects (side-table guard collects, the
        # clustering conflict/disjointness collects) run through
        # executeTake, which by default probes 1 shuffle partition, then
        # 4x more per round — every round a sequential JOB with its own
        # scheduling latency. All such collects here either must scan
        # every partition anyway (the limit is an OOM guard above the
        # true row count, or the expected result is empty) or are
        # bounded diagnostics, so probing all partitions in ONE job
        # strictly reduces driver round-trips (measured: the clustering
        # probe's two collects were 3-4 jobs each at sf0.1).
        # ORDER BY ... LIMIT paths (TakeOrderedAndProject) are unaffected.
        "spark.sql.limit.initialNumPartitions": "1000",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # deterministic, locale-independent string comparison
        "spark.sql.legacy.respectNullabilityInTextDatasetConversion": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY")
        or _default_driver_memory(),
        "spark.ui.enabled": "false",
        # One link_addresses + cluster_predictions run generates ~180
        # distinct classes (177-185 Janino compilations for a benchmark
        # unit in a fresh JVM), and Spark's compiled-class cache holds 100
        # by default. Every run plans the same stages in the same order, so
        # an LRU smaller than that cyclic working set evicts each class
        # just before its next use: a 0% hit rate, and every repeat run
        # (each streaming micro-batch, each benchmark unit) recompiles
        # everything. 1024 holds several runs' worth; measured 177 -> 2
        # compilations per repeat run.
        "spark.sql.codegen.cache.maxEntries": "1024",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
    }
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts:
        for k in _JAVA_OPTS_KEYS:
            conf[k] = java_opts
    local_dir = _default_local_dir()
    if local_dir is not None:
        conf["spark.local.dir"] = local_dir
    for k, v in (extra_conf or {}).items():
        if k in _JAVA_OPTS_KEYS and conf.get(k):
            v = f"{conf[k]} {v}"
        conf[k] = v
    return conf


def get_spark(
    app_name: str = "uk_address_matcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Get or create the session with the defaults of _session_conf.

    Static confs (``spark.sql.codegen.cache.maxEntries``, the driver
    memory and JVM options, ``spark.local.dir``) take effect only when
    this call CREATES the session: getOrCreate hands back a running
    session as it is. The codegen cache is also JVM-global, sized once on
    first use, so a later session in the same JVM keeps the first size.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compilations(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM (Spark's CodegenMetrics).

    The delta around a run counts the generated classes it compiled
    rather than took from the codegen cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples or collected Rows,
    positional) with the DDL ``schema``, planned as a ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into a
    Python RDD (``LogicalRDD``, ``Scan ExistingRDD`` in a plan): every
    scan of it, including the collect or broadcast of a few-row side
    table, is a Spark job whose tasks start Python workers. Handing Spark
    an Arrow table instead gives a ``LocalRelation``: its collect starts
    no job, and a broadcast of it reads the rows already on the driver.
    Measured on 4 cores at 300k rows (the size of the reference's token
    TF table), local relation vs Python RDD: create 0.35 s vs 1.6 s,
    collect ~1.9 s either way, one broadcast join 1.55 s vs 0.93 s,
    create plus one broadcast 1.9 s vs 2.55 s. Only the broadcast alone
    is slower, and it is still ahead once creation is counted, so there
    is no size switch.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
