"""SparkSession factory tuned for the analytics engine.

Design notes (100 TB target, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast-join demotion are what keep a fixed plan healthy at 1000x data.
- spark.sql.shuffle.partitions is only the pre-AQE upper bound; AQE coalesces.
  On a real cluster this would be ~2-3x total cores; locally we match cores.
- Session timezone pinned to UTC so timestamp semantics are deterministic and
  match the DuckDB oracle (naive timestamps).
- Arrow on for the pandas-UDF extension operators (vectorized Python exchange).
- Codegen cache sized to the working set. The workload is many short
  statements over the same tables, so the same generated sources come back
  every pass. Each source is compiled twice: once on the driver for
  WholeStageCodegen's bytecode-size check, and once under the executor's
  class loader, which keys its own cache entry. One pass of the 18-op
  registry benchmark touches 219 entries, one pass of the engine script
  186. Spark's default LRU of 100 entries is smaller than that cycle, so it
  hit nothing: every pass Janino-compiled about 200 classes again and the
  JIT compiled them again. 1000 entries hold both working sets with room to
  spare. An entry (source key plus bytecode) costs 30-50 KB of live heap
  (measured: +5.5 MB for the registry's 119 entries above the default), so
  a full cache stays near 50 MB. The conf is static: it only takes effect
  in a session this factory starts (see ``tune``).
- Status-store history capped at 100 executions, jobs and stages. Spark
  keeps 1000 of each in its in-memory status store even with the UI off:
  plan strings (``SQLExecutionUIData``), ``SQLPlanMetric``, ``StageData``,
  ``TaskDataWrapper`` and RDD-operation graphs. A workload of many short
  statements fills it: over 12 passes of the 15-statement engine script
  (4 cores, sf0.001) the live heap after a full GC grew 1.4 MB per pass
  from the fourth pass on and reached 98.8 MB; with the cap it grew
  0.7 MB per pass and reached 88.8 MB (the remaining growth is not
  attributed here). The working set the store must hold is one statement
  or registry entry, read right after it ran (job-group counts, the
  perfbench tracer): the largest measured take 10 jobs
  (``q5_local_supplier_volume`` at sf0.01; the engine script's largest
  statement, the upsert, takes 7) and 24 stages (``dedup_ngram_jaccard``
  at sf0.01). These confs are static too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# executions, jobs and stages the status store keeps (see the module notes)
_RETAINED = 100


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The correctness driver hands us its own SparkSession; these settings are
    the subset of our tuning that can be applied after session start.

    Static settings cannot be changed on a running session, so an external
    session keeps its owner's values for the codegen cache size
    (``spark.sql.codegen.cache.maxEntries``), the status-store history
    (``spark.sql.ui.retainedExecutions``, ``spark.ui.retainedJobs``,
    ``spark.ui.retainedStages``), driver memory and the UI. On such a
    session each pass recompiles the generated classes that do not fit
    Spark's default 100-entry cache, and the status store holds up to
    1000 executions, jobs and stages, unless its owner sets the confs.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def get_spark(
    app_name: str = "cassandra-sql-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # single-file testdata: split scans at 16 MB so local cores engage;
        # on a real cluster file count provides this parallelism naturally
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static: the default 100-entry LRU is smaller than one pass's
        # cycle of generated classes (registry 219, engine script 186), so
        # it hit nothing; 1000 entries at 30-50 KB stay near 50 MB of heap
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # static: the status store keeps 1000 executions, jobs and stages
        # by default, UI or not, and the live heap grows with them; 100
        # hold the largest statement's or registry entry's own (10 jobs,
        # 24 stages)
        .config("spark.sql.ui.retainedExecutions", str(_RETAINED))
        .config("spark.ui.retainedJobs", str(_RETAINED))
        .config("spark.ui.retainedStages", str(_RETAINED))
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/root/repo/.warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
