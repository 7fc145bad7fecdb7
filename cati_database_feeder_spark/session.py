"""SparkSession factory tuned for both local testing and cluster scale.

The reference is a single-threaded pandas script (feeder.py:156
``iterrows``); here every knob is set so the same logical plans run
unchanged on a 1000-executor cluster: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), broadcast threshold for
dimension joins, Arrow for any pandas-UDF exchange, UTC session time
zone so timestamp semantics are stable across drivers and match the
DuckDB oracle.

Python workers fork from the package's own daemon,
``cati_database_feeder_spark.pyworker``, not from ``pyspark.daemon``.
Every worker task calls ``importlib.invalidate_caches()``, and on CPython
< 3.13 that re-reads the central directory of every zip archive on the
worker's import path (``pyspark.zip``, the py4j zip, the Spark core jar):
0.15-0.2 s per task on a 4-CPU host, a fixed cost on every
``mapInArrow``/``mapInPandas`` task and every Python-RDD scan. The daemon
re-reads an archive only when it changed, as CPython 3.13 does; on 3.13
and later it is ``pyspark.daemon`` unchanged. Spark starts it as
``python -m cati_database_feeder_spark.pyworker``, so the package must be
importable by the Python workers: from the working directory, from
``PYTHONPATH`` or as an installed package. The Arrow kernels need the
same, since workers unpickle them by reference to package modules.

One daemon serves the whole session, for SQL Python tasks
(``mapInArrow``, ``mapInPandas``) and Python-RDD tasks
(``createDataFrame(list)``, ``local_frame``) alike: the session turns off
the simplified UDF traceback, the one worker environment variable that
would split them into two daemons, each with its own cold workers (the
comment at the conf gives the numbers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults are for the local[32] test harness; on a real cluster the
# submitter overrides master/shuffle-partitions (rule of thumb: 2-3x
# total executor cores, or rely on AQE coalescing from a high initial
# number).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(app_name: str = "cati-feeder-spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults."""
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) is otherwise an illegal type in Spark;
        # read as epoch-nanos long, catalog.load_table converts to µs
        # timestamps (matching DuckDB's own ns→µs truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale posture: runtime adaptivity ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # --- joins: dimension tables (region/nation/existing-key
        # snapshots) broadcast instead of shuffling the fact side ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python exchange is Arrow-batched, never per-row pickle ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scans: keep splits near the default 128MB parquet
        # row-group size so a 100 TB table yields well-sized tasks ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # --- JIT code cache sized for a LONG session compiling
        # hundreds of distinct whole-stage-codegen classes (the bench
        # runs the full 179-query registry in one JVM): the JVM
        # default (240 MB) fills, the JIT compiler shuts off, and
        # every later plan runs interpreted — a uniform 1.3-3x
        # slowdown measured on the round-11 board before this flag.
        # Flushing lets cold compiled methods be evicted instead of
        # wedging the cache. Applies at JVM launch, so it only takes
        # effect when THIS process creates the session (bench, tests,
        # the driver harness) — exactly the long-registry sessions
        # that need it.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing")
        # --- Python workers fork from the package's daemon, which
        # skips the per-task zip re-read (see the module docstring) ---
        .config("spark.python.daemon.module",
                "cati_database_feeder_spark.pyworker")
        # --- one daemon per session: Spark keeps one worker daemon per
        # distinct set of worker env vars, and with this conf on (the
        # default) the SQL Python runners (mapInArrow, mapInPandas) add
        # SPARK_SIMPLIFIED_TRACEBACK=1 while the Python-RDD runner
        # (createDataFrame(list), local_frame, parallelize) does not.
        # A session using both then starts two daemons and two sets of
        # cold workers: after one survey wave at local[2] on a 4-CPU
        # host, 2 daemons with 2 workers each, and the first Python-RDD
        # stage took 1.4 s (0.08 s warm); with it off, 1 daemon with 2
        # workers, and that stage took 0.07-0.13 s. The cost: a Python
        # UDF error in SQL carries the full worker traceback, not the
        # shortened one; its message is unchanged ---
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled",
                "false")
        # --- no py4j stack capture per API call: while this is on (the
        # default), every DataFrame and Column call walks the Python
        # stack and makes about five py4j round trips to record its
        # call site (pyspark.errors.utils._with_origin): a warm
        # 2,000-doc dedup pass made 1,560-1,780 round trips with it on
        # and 785-807 with it off. The cost: DataFrame errors lose the
        # Python file:line in their query context; the error class and
        # text are unchanged ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema):
    """Single-partition DataFrame from driver-local rows.

    A plain ``createDataFrame(list)`` slices even ONE row across
    ``defaultParallelism`` pickled partitions; a later ``coalesce(1)``
    (the usual small-table write shape) then streams ALL of them
    through one sequential Python worker — measured ~5-6 s per tiny
    frame at local[32]: 32 tasks, each paying the per-task zip re-read
    that the worker daemon skips (module docstring). That dominated
    the embedding-store bootstrap (boot:emb:params 22 s for four
    one-to-128-row writes) and taxed every metrics append and
    literal-offset join. Driver-local model/offset/sentinel frames are
    small BY CONSTRUCTION, so one slice is the only sensible layout —
    one Python task. Warm scans at local[2] on a 4-CPU host, with the
    daemon: a one-row frame from here 0.08-0.10 s, a ten-row
    ``createDataFrame(list)`` (two slices) 0.08-0.10 s. On a cluster
    the same argument holds: these frames broadcast or coalesce
    anyway, so parallelism was never buying anything.

    ``schema`` must be a DDL string or ``StructType`` whenever
    ``rows`` may be empty: ``createDataFrame([], [names])`` has no
    types to infer from and raises. The assert below turns that
    latent confusing failure (round-12 advice) into a named one.

    The frame wraps a Python RDD: every scan re-runs its row
    conversion in a Python worker. A frame scanned more than once
    (joined, counted and written, say) should not be built with this;
    build it from a pyarrow Table (``spark.createDataFrame(table,
    schema)``), which the JVM decodes without Python."""
    if not rows:
        assert not isinstance(schema, (list, tuple)), (
            "local_frame with empty rows needs a typed schema (DDL "
            "string or StructType) — a bare column-name list leaves "
            "Spark nothing to infer types from")
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)


def shuffle_width(spark: SparkSession) -> int:
    """The session's compute width for explicitly pinned exchanges:
    max(defaultParallelism, spark.sql.shuffle.partitions) — never
    shrinks an at-scale session's configured shuffle width. The conf
    value is non-numeric on some platforms (e.g. "auto" under
    AQE-auto-optimized shuffle services), so parse failures fall back
    to defaultParallelism instead of raising (round-13 advice)."""
    sc = spark.sparkContext
    try:
        conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_width = 0
    return max(sc.defaultParallelism, conf_width)
