"""SparkSession factory with scale-oriented defaults.

Local mode stands in for the multi-executor cluster: partitioning /
shuffle behavior is identical, only the transport differs.  The same
settings (AQE, skew-join splitting, Arrow batching) are the ones the
job would ship with via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# SQL-layer settings shared by every launch path (local factory below
# and spark-submit via get_submit_spark) — cluster topology (master,
# memory, executor count) deliberately excluded: spark-submit owns it
# Executor-JVM flags for multi-executor launches (spark-submit /
# local-cluster).  JDK 17's UseDynamicNumberOfCompilerThreads spawns
# JIT compiler threads on demand from queue-pressure heuristics; on
# small executors (2 task threads) the heuristic can fail to ramp up
# and the whole-stage-codegen classes then run INTERPRETED for the
# executor's whole life — measured 10-20x CPU on the explode-heavy
# aggregation stages here (204s -> 20s on an identical 4-executor
# job once the static compiler pool is forced).  A static pool costs
# only idle threads, so force it wherever we control executor launch.
#
# DontCompileHugeMethods (JVM default ON) refuses to JIT any method
# over 8 KB of bytecode.  Spark's generated doConsume for the Cody-erf
# weight projections sits between that 8 KB JIT ceiling and janino's
# 64 KB compile limit: it COMPILES cleanly (so no Spark warning fires)
# but then runs in the bytecode interpreter for the JVM's whole life.
# Measured on the binary-DB weight stage: 3.3 s -> 1.3 s at bench
# scale with the flag off.  Turning it off only admits big generated
# methods to the normal JIT pipeline — cold compiles cost a few
# compiler-thread seconds, which the static pool above absorbs.
EXECUTOR_JVM_FLAGS = ("-XX:-UseDynamicNumberOfCompilerThreads "
                      "-XX:-DontCompileHugeMethods")

SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # DataFrame call-site capture OFF.  PySpark wraps every Column /
    # DataFrame function (pyspark.errors.utils._with_origin); with this
    # on, each call walks the Python stack and makes ~4-5 extra py4j
    # round trips (active-session lookup, a conf read, origin set and
    # clear).  Plan building makes thousands of such calls per job:
    # building every sink plan took 28k round trips and 5.8-6.8 s with
    # it on, 11k and 3.4-4.3 s with it off (4-vCPU host, warm JVM).
    # Trade-off: a DataFrame error message no longer names the Python
    # line that built the failing expression; the JVM error itself is
    # unchanged.  Static conf, and PySpark caches it process-wide on
    # first use, so it must be set before the context starts (see
    # get_submit_spark).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# SQL_CONF entries that are static: fixed when the SparkContext starts,
# so a post-getOrCreate ``spark.conf.set`` cannot apply them
STATIC_SQL_CONF = frozenset({"spark.python.sql.dataFrameDebugging.enabled"})

# Scan-split sizing — LOCAL/BENCH FACTORY ONLY (get_spark below), never
# the spark-submit path.  The pipeline's intermediates (battles
# checkpoint, staged frames) are COMPACT by bytes — tens of MB
# compressed — but expensive to decode (nested team/matchup structs)
# and they fan out ×12-48 downstream.  Under the 128 MB default + 4 MB
# open-cost packing, a whole intermediate collapses into 1-2 scan
# splits, so every consumer job starts with a single-task decode — a
# serial stage that caps N→4N scaling (measured: ~167 s of the staging
# phase was core-count-invariant at sf-bench scale).  These values fit
# THIS sandbox's data:core ratio; at 100 TB the stock 128 MB default is
# right (8 MB splits would mean ~12M scan tasks and drown the
# scheduler), so submit-path sessions keep stock defaults unless the
# deployment passes --conf explicitly.
LOCAL_SQL_CONF = {
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(512 * 1024),
}

# The file:// filesystem — LOCAL FACTORY ONLY (get_spark below).  pyspark
# ships no native Hadoop library, and without it RawLocalFileSystem sets
# each permission by running a `chmod` child process: one for every
# directory it creates and every part, .crc and _SUCCESS file it writes
# (456 in a warm 400-conversation reaggregate job on local[4], whose
# median fell from 7.0 to 5.9 s without them).  The class in
# jvm/statsspark/fs/NoSpawnLocalFileSystem.java subclasses
# LocalFileSystem and sets the same rwx bits with one syscall.  It keeps
# the checksum layer (.crc files written and verified on read) and every
# resulting mode (a sticky-bit mode still takes the stock path).  The
# jar is prebuilt and committed (jvm/build.py), so start-up compiles
# nothing.  Only the driver JVM gets it: the submit path and
# multi-executor launches write to cluster storage, and their executors
# would not have the jar.  When stats_spark runs from the --py-files zip
# there is no jar beside it, and the stock filesystem stays.
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "jvm", "localfs.jar")
LOCALFS_CONF = {
    "spark.driver.extraClassPath": LOCALFS_JAR,
    "spark.hadoop.fs.file.impl": "statsspark.fs.NoSpawnLocalFileSystem",
}


def get_submit_spark(app_name: str = "stats_spark_job",
                     extra_conf: dict | None = None) -> SparkSession:
    """Session for ``spark-submit --py-files`` launches: master, deploy
    mode, memory and executor topology come from the submit command
    line / cluster manager; only the SQL-layer defaults are applied
    here (and never override an explicit ``--conf``)."""
    from pyspark import SparkConf, SparkContext

    # the launcher's --conf entries are JVM system properties, which a
    # SparkConf loads once the py4j gateway is up
    SparkContext._ensure_initialized()
    submitted = SparkConf()
    conf = {k: v for k, v in {**SQL_CONF, **(extra_conf or {})}.items()
            if not submitted.contains(k)}
    builder = SparkSession.builder.appName(app_name)
    # static confs are fixed once the context starts: they ride the
    # builder, the rest are set on the live session
    for k in STATIC_SQL_CONF & conf.keys():
        builder = builder.config(k, conf.pop(k))
    spark = builder.getOrCreate()
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # only a static conf already fixed by the submit command
            # is ignorable; a genuinely invalid key/value must
            # surface, not vanish
            if "Cannot modify the value of" in str(e):
                continue
            raise
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark(
    app_name: str = "stats_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    ``shuffle_partitions`` defaults to ``cores`` — right-sized for
    local mode; on a real cluster this is executors*cores scaled by
    AQE coalescing (spark.sql.adaptive.coalescePartitions).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("STATS_SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # shuffle spill dir: this host's overlay /tmp serializes under
        # 32 concurrent writers (measured 2-4x sink slowdowns); tmpfs
        # restores scaling.  On a real cluster this is the executors'
        # local NVMe (spark.local.dir set by the cluster manager).
        .config("spark.local.dir",
                os.environ.get("STATS_SPARK_LOCAL_DIR", "/dev/shm/spark-local"))
        # local mode runs all executor code in the driver JVM, so the
        # static-JIT-pool fix (see EXECUTOR_JVM_FLAGS) must be applied
        # here too — without it the same dynamic-compiler-thread
        # heuristic stochastically leaves whole-stage-codegen classes
        # interpreted for the JVM's life (2-4x phase blow-ups measured
        # on identical local[8] runs)
        .config("spark.driver.extraJavaOptions", EXECUTOR_JVM_FLAGS)
    )
    local = {**SQL_CONF, **LOCAL_SQL_CONF}
    if os.path.isfile(LOCALFS_JAR):
        local.update(LOCALFS_CONF)
    for k, v in local.items():
        builder = builder.config(k, v)
    evlog = os.environ.get("STATS_SPARK_EVLOG")
    if evlog:
        # profiling hook: event log for scripts/evlog_analyze.py
        os.makedirs(evlog, exist_ok=True)
        # uncompressed + non-rolling so the analyzer (plain JSONL
        # reader; no zstd module in this image) can parse it
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", evlog)
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
