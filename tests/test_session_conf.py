"""Pin the scale-critical session confs (no Spark session needed).

These settings carry measured scaling behavior; changing one is a
deliberate act, not a drive-by:

- AQE + skew-join: runtime re-planning for hot formats (north rule).
- Arrow batching: the parse mapInPandas ships one packed string per
  conversation; per-row transfer is the slow path.
- Scan-split sizing: LOCAL factory only — the compact intermediates
  (battles checkpoint, staged frames) must decode on many tasks; under
  the 128 MB default every consumer job opened with a single-task
  scan, measured as ~167 s of core-count-invariant staging cost (the
  N→4N efficiency killer; see BENCH.md).  The spark-submit path keeps
  stock defaults: at 100 TB an 8 MB split would mean ~12M scan tasks.
- DataFrame call-site capture off: each Column/DataFrame call otherwise
  costs ~4-5 extra py4j round trips, a large share of plan building.
"""

from stats_spark.session import (EXECUTOR_JVM_FLAGS, LOCAL_SQL_CONF,
                                  SQL_CONF, STATIC_SQL_CONF)


def test_aqe_and_skew_handling_enabled():
    assert SQL_CONF["spark.sql.adaptive.enabled"] == "true"
    assert SQL_CONF["spark.sql.adaptive.skewJoin.enabled"] == "true"


def test_arrow_batching_enabled():
    assert SQL_CONF["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert int(SQL_CONF["spark.sql.execution.arrow.maxRecordsPerBatch"]) >= 1000


def test_scan_splits_sized_for_compact_intermediates():
    # splits small enough that a ~60 MB checkpoint scan parallelizes
    assert int(LOCAL_SQL_CONF["spark.sql.files.maxPartitionBytes"]) \
        <= 16 * 1024 * 1024
    # open-cost low enough that many small files aren't packed into
    # one split (4 MB default re-serializes the scan)
    assert int(LOCAL_SQL_CONF["spark.sql.files.openCostInBytes"]) \
        <= 1024 * 1024


def test_sandbox_scan_splits_do_not_leak_to_submit_path():
    # the submit path (get_submit_spark) applies only SQL_CONF; the
    # sandbox-tuned split sizing must never reach a real cluster launch
    # unless the deployment passes --conf explicitly
    assert "spark.sql.files.maxPartitionBytes" not in SQL_CONF
    assert "spark.sql.files.openCostInBytes" not in SQL_CONF


def test_dataframe_call_site_capture_off():
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert SQL_CONF[key] == "false"
    # static conf: get_submit_spark must pass it to the builder, since a
    # post-getOrCreate conf.set cannot change it
    assert key in STATIC_SQL_CONF


def test_static_jit_pool_flag_present():
    assert "-XX:-UseDynamicNumberOfCompilerThreads" in EXECUTOR_JVM_FLAGS


def test_materialize_auto_is_topology_aware():
    from stats_spark.plans.pipeline import resolve_materialize

    assert resolve_materialize("local[32]", "auto") == "cache"
    assert resolve_materialize("local[*]", "auto") == "cache"
    assert resolve_materialize("local", "auto") == "cache"
    assert resolve_materialize("local-cluster[4,2,4096]", "auto") == "stage"
    assert resolve_materialize("spark://host:7077", "auto") == "stage"
    assert resolve_materialize("yarn", "auto") == "stage"
    assert resolve_materialize("k8s://https://host", "auto") == "stage"
    # explicit choices pass through untouched
    assert resolve_materialize("local[8]", "stage") == "stage"
    assert resolve_materialize("yarn", "cache") == "cache"
