"""SparkSession factory with scale-appropriate defaults.

The reference runs eagerly in a single R process (e.g.
``GEM/Coalplants_GEM.R:2-7``). Here the session is the engine: Catalyst
plans, AQE re-plans at runtime, Arrow accelerates any Python exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _int_env(names: tuple[str, ...], default: int) -> int:
    """First positive integer among the named env vars, else ``default``.

    ``SPARK_GRAFT_CPUS`` feeds the ``local[...]`` master string, where
    non-numeric values like ``*`` are legal — but
    ``spark.sql.shuffle.partitions`` needs a positive integer: a raw
    passthrough would build a session that dies at its first shuffle
    (a NumberFormatException for ``*``, a partition-count error for
    ``0`` or ``-1``). Such values fall through to the next variable."""
    for name in names:
        try:
            value = int(os.environ.get(name, ""))
        except ValueError:
            continue
        if value > 0:
            return value
    return default


# Defaults chosen for the driver environment (local[N], 128 GiB, small
# scale factors) but expressed so the same code runs on a real cluster:
# AQE coalesces the 32 shuffle partitions locally and splits skewed
# partitions at scale; nothing below hard-codes single-node behaviour.
_DEFAULT_CONF = {
    # Runtime re-planning: coalesce small shuffles, rewrite skew joins,
    # demote/promote broadcast joins from runtime statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics for oracle parity (DuckDB is
    # timezone-naive; pin Spark to UTC so wall-clock values agree).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas exchange (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Scale-adaptive shuffle sizing (optimization guide §2.2/§2.5):
    # NOT a constant tuned for one box — the default derives from the
    # session's core count (local[$SPARK_GRAFT_CPUS] here, so 32 on
    # the driver's bench box, unchanged numbers), and a cluster run
    # overrides it per deployment via $SPARK_GRAFT_SHUFFLE_PARTITIONS
    # (size reducers toward 100 MB-1 GB partitions; AQE coalescing
    # then shrinks small stages at runtime from actual statistics).
    "spark.sql.shuffle.partitions": str(
        _int_env(("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS"), 32)
    ),
    # Generated-class cache (an LRU keyed by generated source; Spark's
    # default holds 100). One gem_total_consolidation_all8 pass cycles
    # through ~150 distinct generated classes, so at 100 every entry was
    # evicted before reuse and each pass recompiled ~120-145 of them
    # (Janino, then the JIT again). 1000 holds that working set with
    # room for the rest of a session's recurring queries.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # kernels._sql_str and every regex passed through F.expr escape for
    # the default (false); split_ownership refuses a session with true.
    "spark.sql.parser.escapedStringLiterals": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "gem_data_wrangle_spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``; an existing active session is reused with its config.

    The JVM-wide generated-class cache is built here, on the calling
    thread, while the session is active. Spark sizes that cache from
    ``SQLConf.get`` at its first use; left lazy, the first use happens
    on a thread with no active session (e.g. the plan-building pool in
    ``_all8_fuel_frames``), which reads Spark's default of 100 entries
    and ignores ``spark.sql.codegen.cache.maxEntries``. Touching the
    ``CodeGenerator`` object is one py4j call and runs no Spark job.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    codegen.CodeGenerator.MUTABLESTATEARRAY_SIZE_LIMIT()  # builds the cache
    return spark
