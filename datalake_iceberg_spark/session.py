"""SparkSession factory.

Mirrors the reference's session bootstrap (``src/utils/spark.py:18-83``):
UTC session timezone, case-sensitive identifiers (the reference ingests
``tb_lower`` / ``TB_UPPER`` as distinct tables), and performance pins.
Instead of Iceberg catalog extensions (unavailable here) the engine uses
:mod:`datalake_iceberg_spark.tables` for snapshot/DML semantics.

Scale notes
-----------
- ``spark.sql.adaptive.enabled`` (AQE) is left ON: runtime coalescing,
  skew-join splitting and dynamic join selection are exactly what a
  1000-executor run needs; nothing in the engine depends on a fixed
  partition count.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on
  a real cluster AQE coalesces from a higher initial number, so callers
  should override via ``extra_conf`` at submit time.
- Arrow is enabled for the Pandas-UDF slow path (text/vector ops).
- The reference excludes the ``SimplifyCasts`` optimizer rule on its
  JDBC batch paths (``src/mysql_to_iceberg.py:107``) so explicit
  type-coercion casts survive; we carry the same pin behind a flag.
- ``spark.sql.codegen.cache.maxEntries`` is pinned to
  ``CODEGEN_CACHE_MAX_ENTRIES`` (1000; Spark's default is 100). The
  cache holds the classes whole-stage codegen compiled, keyed by their
  source; an evicted class is recompiled byte-identical, and the JIT
  then compiles it again. Measured on a 4-CPU host by clearing the
  cache after a warm cycle: one CDC cycle (a copy-on-write commit
  through the streaming runner, a direct copy-on-write and a
  merge-on-read commit, read + scan + lookup, the position-delete
  fold) needs 141 distinct classes and one pass of the six-query
  benchmark mix 100 more, 241 in all. At 100 entries the LRU evicted
  and recompiled 74-99 classes on every CDC cycle; at 1000 (4x the
  measured set) a repeated cycle compiles none. It is a static conf:
  set when the session is built, and left to the server under Spark
  Connect.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SIMPLIFY_CASTS_RULE = "org.apache.spark.sql.catalyst.optimizer.SimplifyCasts"
#: generated-class cache size; see "Scale notes" for the working set
CODEGEN_CACHE_MAX_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session_builder(
    app_name: str = "datalake_iceberg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    preserve_explicit_casts: bool = False,
    extra_conf: dict[str, str] | None = None,
    settings=None,
    remote: str | None = None,
):
    """Assemble the configured builder without materializing a session
    (unit-testable; ``create_spark_session`` adds ``getOrCreate``).

    ``remote`` (or ``SPARK_REMOTE`` in the env, or ``settings.remote``)
    selects Spark Connect mode — the reference exercises this from its
    remote notebook (``tests/00.remote.ipynb``). Connect sessions get
    the same session-level SQL confs; JVM-static confs (master, driver
    memory) belong to the server and are skipped client-side.
    """
    cores = (settings.cpus if settings and settings.cpus else None) or default_parallelism()
    # local[N] runs every executor thread inside the driver JVM, so the
    # driver heap is the whole cluster's heap: 16g across 32 task threads
    # showed 6-8% GC time in the heaviest DML stages (bench health
    # findings); 32g clears them with ample host headroom
    driver_mem = (
        settings.driver_memory if settings else os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    )
    remote = (
        remote
        or (settings.remote if settings else None)
        or os.environ.get("SPARK_REMOTE")
    )
    builder = SparkSession.builder.appName(app_name)
    if remote:
        builder = builder.remote(remote)
    else:
        builder = (
            builder.master(master or f"local[{cores}]")
            .config("spark.driver.memory", driver_mem)
            .config("spark.sql.codegen.cache.maxEntries",
                    str(CODEGEN_CACHE_MAX_ENTRIES))
        )
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # INT96 timestamps (the legacy default) carry no footer min/max,
        # which defeats data skipping; micros is the modern parquet type
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config("spark.rdd.compress", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # distributed file listing (InMemoryFileIndex): above 32 paths
        # Spark fans the listing out as a job with ONE TASK PER PATH —
        # at 1024 bucket dirs that is 1024 near-empty tasks whose
        # scheduling jitter reads as task skew (bench health flagged the
        # listing stages, not the scans). Cap the listing tasks at a
        # multiple of the core count so each task lists a batch of
        # paths; on a real cluster the same cap scales with
        # defaultParallelism via this session factory.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            str(4 * cores),
        )
    )
    if preserve_explicit_casts:
        builder = builder.config("spark.sql.optimizer.excludedRules", SIMPLIFY_CASTS_RULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder


def create_spark_session(
    app_name: str = "datalake_iceberg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    preserve_explicit_casts: bool = False,
    extra_conf: dict[str, str] | None = None,
    settings=None,
    remote: str | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession.

    ``preserve_explicit_casts=True`` replicates the reference's
    ``SimplifyCasts`` exclusion — required when ingesting JDBC-shaped
    data whose cast chains must not be elided as redundant.

    ``settings`` (a :class:`datalake_iceberg_spark.settings.Settings`)
    supplies cpu count / driver memory / remote URL when given, so a
    deployment is constructible from env alone (reference
    settings-layer parity). ``remote`` selects Spark Connect mode.
    """
    spark = build_session_builder(
        app_name=app_name,
        master=master,
        shuffle_partitions=shuffle_partitions,
        preserve_explicit_casts=preserve_explicit_casts,
        extra_conf=extra_conf,
        settings=settings,
        remote=remote,
    ).getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:
        pass  # Connect sessions expose no SparkContext; server owns levels
    return spark
