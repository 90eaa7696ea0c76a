"""Session bootstrap — the engine's ``SedonaIcebergExtensions.apply``.

The reference bootstraps by injecting extension classes at spark-submit time
(``SedonaIcebergExtensions.scala:33-48``: UDT registration, function
injection, pushdown rule, join strategy).  PySpark needs none of that
machinery: :func:`register_all` registers every ST_* scalar and aggregate
under its Sedona name via ``spark.udf.register`` (SURVEY.md §3.0), and the
planner-strategy role of ``JoinQueryDetector`` is played at the API level by
``operators.spatial_join`` (SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def register_all(spark: SparkSession) -> SparkSession:
    """Register the full ST_* catalog for SQL use.  Idempotent (mirrors the
    idempotence guard the reference needs at SedonaIcebergExtensions.scala:41-46 —
    re-registration simply overwrites)."""
    from .functions.udfs import SQL_FUNCTIONS
    from .functions.udfs_ext import EXT_SQL_FUNCTIONS
    from .functions.aggregates import AGG_FUNCTIONS

    for name, fn in SQL_FUNCTIONS.items():
        spark.udf.register(name, fn)
    for name, fn in EXT_SQL_FUNCTIONS.items():
        spark.udf.register(name, fn)
    for name, fn in AGG_FUNCTIONS.items():
        spark.udf.register(name, fn)
    return spark


def sql(spark: SparkSession, statement: str):
    """One SQL front door — the user-facing parity point with the
    reference, where after ``SedonaIcebergExtensions`` injection every
    statement is just ``spark.sql(...)`` (App.scala:42-66).

    Spark's parser reads the statement once (``operators.ddl.Statement``)
    and the root node's class picks its handler (``operators.ddl.HANDLERS``):
    CREATE/CTAS ``USING ICEBERG``, DROP, INSERT, (UN)CACHE, CALL, ALTER TABLE
    columns, SHOW TABLES and DESCRIBE run on the snapshot-table warehouse;
    UPDATE / DELETE / MERGE on a catalog table's versioned copy-on-write
    (``operators.snapshots``).  Text the parser rejects may be Iceberg
    extension grammar.  Anything else returns
    ``operators.sql_join.spatial_sql``'s DataFrame, catalog relations
    spliced to their views.  A statement naming no catalog table, or any
    DDL/DML with a real Iceberg runtime configured, runs on Spark as written.
    """
    from pyspark.errors import ParseException

    from .operators import ddl
    from .operators.sql_join import spatial_sql

    delegate = ddl.delegate_to_iceberg(spark)
    try:
        st = ddl.Statement(spark, statement)
    except ParseException:
        if delegate:
            return spark.sql(statement)
        res = ddl.run_extension(spark, statement)
        if res is None:
            raise
        return res
    handler = ddl.HANDLERS.get(st.tree.nodeName())
    if delegate:
        # a REAL Iceberg runtime (the reference's launch shape) owns DDL/DML
        # verbatim; queries still flow through the spatial-join planner
        if handler is not None or st.geometry:
            return spark.sql(statement)
        return spatial_sql(spark, statement, st.tree)
    if handler is None:
        return ddl.run_query(spark, st)
    res = handler(spark, st)
    return spark.sql(statement) if res is None else res


def get_session(app_name: str = "sedona-iceberg-extension-spark",
                master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build a session tuned for this engine.

    Scale-relevant defaults (designed for a multi-executor cluster, tested on
    local mode): AQE on (runtime re-plan, skew-join splitting), adaptive
    shuffle partition coalescing, Arrow batching for the pandas-UDF boundary.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # With parallelismFirst (default), AQE coalesces small shuffles to
        # max(bytes/defaultParallelism, THIS floor): the 1 MB default
        # serializes the CPU-heavy shingle stages behind the keyed
        # spread() repartition on sub-32 MB local inputs.  64k keeps those
        # stages at ~defaultParallelism tasks; at cluster scale
        # bytes/parallelism >> 1 MB, so this floor never engages.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions
                    or os.environ.get("SPARK_GRAFT_SHUFFLE")
                    or max(32, int(cpus) * 2 if cpus.isdigit() else 64)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
        # driver testdata writes TIMESTAMP(NANOS) parquet — read as long,
        # converted back to timestamp by sources.tables.load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UI off in production/bench sessions (driver-side cost and a port
        # per JVM); tools/profile_query.py sets the env flag to read
        # per-stage metrics over the UI's REST API while profiling
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_PROFILE_UI") == "1"
                else "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Initial heap = max heap (and G1, the long-service collector):
        # with the default tiny -Xms, the FIRST full-SF execution of every
        # object-heavy stage stalls on stepwise heap expansion — measured
        # 3.08s -> 2.37s on the exact-Jaccard query's first sf0.1 run and
        # 2.25s -> 1.77s steady, local[32].  Production clusters run
        # executors with Xms=Xmx for exactly this reason; a benchmark that
        # skips it measures the allocator, not the engine.
        .config("spark.driver.extraJavaOptions",
                "-Xms" + os.environ.get("SPARK_DRIVER_MEMORY", "8g")
                + " -XX:+UseG1GC")
        # The generated-class cache defaults to 100 entries — a workload
        # of hundreds of distinct query shapes (this engine declares 340)
        # evicts continuously, so janino RECOMPILES whole-stage-codegen
        # classes inside the hot path of every query.  Measured on the
        # 18-query headline suite at sf0.1/local[32]: suite 13.1s -> 10.3s,
        # exact-Jaccard 3.1s -> 1.8s, MinHash LSH 1.5s -> 0.9s just from
        # this.  A resident cluster serving a real query mix wants the
        # cache sized to the workload's distinct codegen units.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # PySpark 4 wraps every DataFrame method to ship the Python call
        # site to the JVM for enriched error messages — ~4 py4j round
        # trips per operator (getActiveSession, a conf read, origin
        # set/clear).  Profiling showed it as ~45% of query CONSTRUCTION
        # time (spatial join build: 0.37 s of 0.82 s across 76 wrapped
        # calls).  A resident engine turns it off: errors still raise,
        # they just omit the Python-side call-site decoration.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Always use the sort-based (tungsten) shuffle writer, the same
        # path a real cluster job takes (the bypass-merge writer only
        # engages below 200 partitions — i.e. only in small local runs).
        # Bypass-merge opens ONE FILE PER REDUCE PARTITION per map task;
        # profiling here showed those per-file create/flush syscalls
        # dominating map stages even on tmpfs (calibration aggregate,
        # 32x32 partitions: shuffleWriteTime 97s summed vs 2.8s with the
        # sort writer's single sequential file).  Forcing the threshold
        # to 1 makes local mode exercise the at-scale writer everywhere.
        # Known trade (round 10): the sort writer costs unprimed first
        # runs ~0.5-1 s on the heaviest query (sorting before the JIT
        # warms) — SPARK_GRAFT_BYPASS_MERGE exists so the true_cold A/B
        # can toggle it per fresh JVM (round-12 verdict watch item).
        .config("spark.shuffle.sort.bypassMergeThreshold",
                os.environ.get("SPARK_GRAFT_BYPASS_MERGE", "1"))
    )
    # Shuffle-local storage on tmpfs when available.  On this class of
    # virtualized host, profiling showed shuffle WRITES dominating task
    # runtime — a 32-task map stage writing a 3 MB exchange spent 17 s of
    # its 29 s summed runtime blocked in shuffleWriteTime (file create/
    # flush latency on the virtio disk), ~0.5 s per task, vs 5 s of actual
    # CPU.  Pointing spark.local.dir at /dev/shm removed it (measured:
    # map stage 29.3 s -> 3.7 s summed runtime, query wall 0.88 -> 0.45 s).
    # This is the standard Spark-on-K8s pattern (tmpfs-backed emptyDir
    # local dirs) and the same sizing rule applies at cluster scale: RAM-
    # backed local dirs need the shuffle working set to fit; for spill-
    # heavy workloads point SPARK_GRAFT_LOCAL_DIR (or SPARK_LOCAL_DIRS,
    # which Spark itself honors first) at real NVMe instead.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.environ.get("SPARK_LOCAL_DIRS") is None \
            and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/sedona-iceberg-extension-spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return register_all(spark)
