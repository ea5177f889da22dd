"""Spark session factory.

Capability parity: ``common/evidence.py:83-100`` in the reference initializes a
``local[*]`` session with 90% of RAM and unbounded ``maxResultSize``.  This
factory keeps sane, cluster-safe defaults instead: AQE on (runtime re-plan +
skew-join splitting), bounded result size, Arrow enabled for the pandas
boundary, and an explicit shuffle-partition count sized for the local test
harness (on a real cluster AQE coalesces these).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """The local JVM heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else 32g or
    half the host's physical memory, whichever is less.  A 32g heap on a
    16 GB host lets the one local JVM grow until the host kills it."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(32 * 1024, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "evidence-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Defaults are chosen for correctness at 100 TB, not just local tests:
      * AQE enabled → runtime shuffle coalescing, skew-join splitting.
      * ``autoBroadcastJoinThreshold`` left at default (10 MB) so dimension
        tables (region/nation/customer-sized LUTs) broadcast automatically.
      * Arrow on for every pandas/Pandas-UDF boundary.
      * ANSI off: the engine follows the reference's permissive cast semantics
        (invalid cast → null), which the parsers rely on (SURVEY §2.3 P5).
    """
    # Make this package importable in executor Python workers regardless of
    # the launch cwd: workers read PYTHONPATH from the JVM's env, captured at
    # JVM start — sys.path on the driver does not propagate.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg_root not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Local mode runs EVERYTHING (driver + all executor threads + every
    # broadcast) in one JVM whose default heap is 1 GiB — 32 concurrent
    # tasks thrash the GCLocker long before the machine's RAM is touched
    # (observed: flaky BroadcastExchange failures at 10× sf0.1).  Size the
    # heap like an executor would be sized on a cluster, within the host's
    # RAM.  Only effective when this process launches the JVM; on a real
    # cluster driver/executor memory comes from submit conf and this
    # setting is inert.
    driver_mem = driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        # Test parquet stores TIMESTAMP(NANOS); Spark lacks a nanos timestamp
        # type, so read as long and convert at scan (plans/catalog.py:load).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # The SQL-string twin builders (functions/sqlstr.py) backslash-escape
    # string literals, which parses correctly only under the DEFAULT parser
    # mode; refuse a session where a deployment-level legacy override would
    # silently diverge the twins from their F.lit Column forms.  (Checked,
    # not set: setting the conf trips a Spark 4 deprecation warning.)
    if (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        .lower() == "true"
    ):
        raise RuntimeError(
            "spark.sql.parser.escapedStringLiterals=true is unsupported: "
            "the engine's SQL-string builders rely on default-mode "
            "backslash escaping"
        )
    return spark
