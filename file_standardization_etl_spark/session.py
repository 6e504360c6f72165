"""SparkSession factory with scale-aware defaults.

The defaults below are what we would submit with ``spark-submit --conf``
on a real multi-executor cluster; locally they keep plans identical while
sizing shuffle parallelism to the machine.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

# a resident engine compiles thousands of whole-stage-codegen classes (one
# per stage per query); JDK 17's default 240 MB ReservedCodeCacheSize fills
# after a few hundred stages and the JIT then runs expression-heavy codegen
# interpreted/recompiling (measured: the 54-format date battery at 2.7 s
# steady-state in a fresh JVM degrades to 6.5-7 s late in a long bench
# session). Applies at JVM launch only — i.e. to the process's FIRST session.
CODE_CACHE_OPT = "-XX:ReservedCodeCacheSize=512m"

# Spark's whole-stage-codegen class cache (a static conf, fixed at JVM
# launch like CODE_CACHE_OPT) holds 100 classes by default. A resident
# engine's working set is larger: one serve-while-ingest benchmark run
# compiles 456 distinct classes (253 on backlog replay), so at 100 entries
# most of a micro-batch's ~96 compiles are evictions of classes the JVM had
# already compiled. The cache stays bounded on purpose: per-batch literals
# are inlined into the generated Java (the watermark in apply_batch's
# ``lsn > applied`` filter, a MOR delta's ``_seq`` version), so every batch
# adds a few classes that are never reused, and LRU eviction drops them.
CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = "2000"
JAVA_OPTIONS_KEY = "spark.driver.extraJavaOptions"


def driver_java_options(existing: str | None) -> str:
    """``spark.driver.extraJavaOptions`` with the code-cache flag appended
    to whatever the deployment already passes (a deployment that sizes the
    code cache itself keeps its own value)."""
    existing = (existing or "").strip()
    if "ReservedCodeCacheSize" in existing:
        return existing
    return f"{existing} {CODE_CACHE_OPT}".strip()


def resident_conf(
    extra_conf: dict[str, str] | None, deployment: SparkConf | dict[str, str]
) -> dict[str, str]:
    """``extra_conf`` plus the resident-session JVM settings (code-cache
    flag, codegen class cache). A value the caller passes in ``extra_conf``
    or the deployment already set in ``deployment`` (e.g. spark-submit
    ``--conf``, read through ``SparkConf()``) wins over the engine's."""
    conf = dict(extra_conf or {})
    conf[JAVA_OPTIONS_KEY] = driver_java_options(
        conf.get(JAVA_OPTIONS_KEY) or deployment.get(JAVA_OPTIONS_KEY)
    )
    conf.setdefault(
        CODEGEN_CACHE_KEY, deployment.get(CODEGEN_CACHE_KEY) or CODEGEN_CACHE_ENTRIES
    )
    return conf


def get_spark(
    app_name: str = "file-standardization-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    - AQE on (runtime coalesce + skew-join splitting), matching the skew
      requirements of the CDC north rule.
    - Arrow on for every pandas-UDF / createDataFrame boundary.
    - Session timezone pinned to UTC so results compare bitwise against
      the DuckDB oracle (DuckDB timestamps are UTC-naive).
    - JIT code cache and codegen class cache sized for a resident engine
      (:func:`resident_conf`).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N; local[*] / cluster → cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("", "*") else int(inner)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # task-side output commit (v2): renames happen in parallel at task
        # commit instead of serially at job commit — the engine's bucketed
        # MERGE writes many small per-bucket files per micro-batch
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in resident_conf(extra_conf, SparkConf()).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
