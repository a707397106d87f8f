"""SparkSession factory.

Local-mode defaults tuned for the test/bench harness (local[N] on one JVM);
the same builder settings are what we would ship for a real cluster, minus
the ``master`` override: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), UTC session timezone (required for DuckDB-oracle
comparison — DuckDB timestamps are UTC-naive), Arrow enabled for the few
Pandas-UDF operators.

The generated-code cache is sized to the working set. Spark keeps the
classes whole-stage and expression codegen compile in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries, 100 by default. That is
far smaller than what this package runs again and again in one JVM: a
publish of the fixture feed compiles about 350 distinct classes, the 12
light benchmark queries about 170, and one pass over all 219 registry
entries at sf0.01 plus a publish about 2950. At 100 entries nearly every
repeat recompiles: a second such pass compiled 5018 classes, a warm
publish about 390 (~5 s of Janino time), each light query round 102-145
(0.7-1.9 s). At 4096 the same second pass compiles 45. The generated
code also names each class after its whole-stage codegen stage id, and
under AQE two builds of the same query can number their stages
differently, so identical code missed the cache on the name alone
(funnel_conversion recompiled 4-6 classes on its second build);
``useIdInClassName=false`` keeps the id out of the code.

``maxEntries`` is a static SQL conf: the first builder in a JVM fixes
it, and a later ``get_spark`` (or ``extra_conf``) in the same JVM cannot
change it. On a cluster every executor JVM keeps its own cache, sized by
the same setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def log_level_from_env(env: dict | None = None) -> str:
    """C20 quiet/verbose parity (reference: gtfs-to-sql --silent / psql
    --quiet, import.sh:117-122; verbose flag import.js:59-62).

    ``GTFS_IMPORTER_VERBOSE=false`` maps to ERROR (the reference's quiet
    mode), anything else to the WARN default; ``SPARK_GRAFT_LOG_LEVEL``
    overrides both for debugging (e.g. INFO to watch AQE re-plans).
    """
    e = os.environ if env is None else env
    explicit = e.get("SPARK_GRAFT_LOG_LEVEL")
    if explicit:
        return explicit.upper()
    if e.get("GTFS_IMPORTER_VERBOSE", "").lower() == "false":
        return "ERROR"
    return "WARN"


def get_spark(
    app_name: str = "postgis-gtfs-importer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # One shuffle partition per core locally. On a real cluster this is
        # overridden upward (or left to AQE coalescing from a high initial
        # value) — see docs/SCALE.md.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # hold every generated class of the recurring work, and keep the
        # stage id out of the class name so a rebuilt plan whose AQE
        # stages number differently still hits (see the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local-bench parquet files are single-digit-MB; the 128MB default
        # would scan each as ONE partition, idling every other core. At
        # cluster scale (multi-GB files) the default is correct — this is
        # a small-input override, not a scale setting.
        .config("spark.sql.files.maxPartitionBytes", str(1 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(log_level_from_env())
    return spark
