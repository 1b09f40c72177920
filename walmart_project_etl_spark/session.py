"""SparkSession factory tuned for this engine.

Local test runs use ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
ones we would ship to a 1000-executor cluster (AQE on, adaptive skew-join on,
sane shuffle partition count, Arrow for the few Pandas-UDF operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "walmart-project-etl-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic broadcast conversion — the knobs that keep the
      same plan healthy from sf0.001 to 100 TB.
    - Arrow enabled for the mapInPandas multimodal operators (the only
      Python hop in the engine; everything else is JVM Column expressions).
    - ``spark.sql.session.timeZone=UTC`` so date/timestamp semantics are
      deterministic and match the DuckDB oracle.
    - Python call-site capture off
      (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
      PySpark wraps every Column and DataFrame API call so the Python
      line can appear in error messages, and each wrapped call costs
      about 10 extra py4j round trips: ``F.col("a")`` takes 13 instead
      of 3, and building one day's load plans takes about 27k round
      trips instead of 13k. The cost of turning it off: an analysis or
      runtime error no longer names the Python file and line in its
      DataFrame query context; the error class, the message and the
      offending column or expression are unchanged. PySpark reads the
      setting once per process, from the first active session, so it
      is set here, when the session is built.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # localCheckpoint blocks (lineage truncation in txlog commits,
        # SemDeDup assignment reuse, BPE/PageRank rounds) are only freed
        # when the ContextCleaner sees their RDDs GC'd; the default
        # periodic-GC interval is 30min, so a long multi-query session
        # (the 95-query bench, the oracle sweep) accumulates dead blocks
        # into block-manager pressure and mid-run stalls. 5min keeps the
        # store bounded; same setting is the standard rec for iterative
        # jobs on a real cluster. Env-overridable for A/B bisects of the
        # full-GC pause cost (docs/SCALE.md records the r14 bisect).
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"))
        # Allow the planner to pick SHUFFLED HASH JOIN where its size
        # conditions hold instead of always preferring sort-merge
        # (guide §3.1/§9): skips both sort passes on the many
        # moderate-sized equi-joins in the engine. Safe at scale with
        # AQE on (skew splitting caps build-side partitions); env-
        # overridable for A/B bisects like the periodic-GC knob.
        .config("spark.sql.join.preferSortMergeJoin",
                os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"))
    )
    return builder.getOrCreate()
