"""SparkSession factory with the engine's standard configuration.

Design notes (100 TB target):
* AQE on — runtime coalescing + skew-join splitting for the frontier ⋈ pages
  join under zipf host skew.
* Arrow on — every Python-side kernel is an Arrow-batched pandas UDF.
* Shuffle partitions are fixed (deterministic plans in tests) but should be
  sized to ~2-3x total cores on a real cluster. Warehouse tables are written
  with whatever partitioning the wave's plan ends in; no join relies on it.
* PySpark's call-site capture is off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on, every
  ``F.*`` and DataFrame call adds about five py4j round trips (active session,
  conf read, origin set and clear), and the crawl driver builds thousands of
  them per wave: a resumed ``crawl_polite`` call made ~6.1k main-thread round
  trips with it on and ~2.7k with it off (``scripts/py4j_calls.py``). What is
  lost is the Python file:line in Spark's analysis errors; to get it back
  pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to the ``get_spark`` call that creates the session (it is a static
  setting, and PySpark reads it once per process, at the first wrapped
  call).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "webcrawler-woc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]) in the
    sandbox; on a real cluster it is left unset so spark-submit controls it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: coalescePartitions.parallelismFirst is left at its default
        # (true). Setting it false (bytes-first) shrank tiny crawl-state
        # shuffles nicely but coalesced the medium-sized frontier-expansion
        # shuffles to a handful of partitions, starving 32 cores: measured
        # scaling efficiency collapsed 0.83 -> 0.26. Parallelism-first is the
        # right default for a throughput-scaling engine.
        # let AQE re-partition CACHED plans: the per-wave caches (matched /
        # fetched / children / deduped) are wave-sized, and with this off
        # (the default) they materialize at the full shuffle-partition count,
        # so every broadcast-exchange subplan over them schedules 32-192
        # near-empty tasks — measured 2-3.8s per subplan job on an 82-URL
        # wave. With AQE coalescing the caches, crawl_depth3 dropped ~2x
        # (27.8s -> ~14s median at the bench config). Output partitioning of
        # cached frames is never relied upon, so this is safe.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Input split sizing (optimization guide §6): the sandbox's parquet
        # inputs are single small files, so the 128m default packs each whole
        # table into ONE scan task and every scan-side kernel (Arrow UDFs,
        # char folds, codegen folds) serializes onto one of 32 cores. 16m
        # splits them at row-group granularity instead. Parameterised because
        # the right value is deployment-dependent: on a real cluster scanning
        # 100 TB of 512 MB-1 GB files, set SPARK_GRAFT_MAX_PART_BYTES=512m-1g
        # so large sequential scans keep few, big map tasks (guide §2.2).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", "16m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no call-site capture (module docstring); extra_conf turns it back on
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Scale-adaptive scan spreading (optimization guide §2.5, input skew).

    A tiny-file / single-row-group parquet input yields fewer scan partitions
    than the session has cores, which serializes every downstream per-row
    kernel (Arrow-batched pandas UDFs, per-char Catalyst folds) onto a
    handful of tasks — measured 1 of 32 cores busy on the sandbox's
    single-row-group ``documents.parquet``. When the scan's partition count
    is below the session's default parallelism, round-robin repartition to
    the core count: one shuffle of an input that is small by construction
    (few row groups <=> few hundred MB). When the input splits naturally
    into >= core-count partitions (many row groups / files — the 100 TB
    case), this is a no-op and NO exchange is added.

    Values are partition-independent for every contract query (aggregations,
    joins, windows keyed on data columns), so spreading never changes
    results — pinned by scripts/check_oracles.py across the full registry.
    """
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if n < target:
        return df.repartition(target)
    return df
