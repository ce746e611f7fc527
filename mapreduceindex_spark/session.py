"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` in one JVM; the configuration is chosen so
the *same* logical plans run unchanged on a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — the primary
  defense against shuffle skew at 100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's ``advisoryPartitionSizeInBytes`` takes over, so the static number is
  only the pre-AQE upper bound.
- Arrow enabled for every pandas/Python boundary crossing.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every Column function call walks the Python stack and makes five
  extra py4j round trips (active session, a JVM class lookup, a conf
  read, and the origin set and clear): a quarter to a third of a warm
  index read's planning time. Spark errors then lose their "DataFrame
  call site" section; the error class and message are unchanged.
  PySpark caches the flag at the process's first Column call, so it
  holds when that call comes after this factory has run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreduceindex_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*`` (all local cores).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local[N] puts driver + all executor threads in one JVM: size the
        # heap for 32 concurrent tasks where the box affords it; override
        # with SPARK_DRIVER_MEM when co-tenanted
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Fixture `events` carries TIMESTAMP(NANOS) parquet columns, which
        # Spark rejects by default; read them as long nanos and normalize
        # in load_table (truncate to micros — same as DuckDB/Arrow).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: heap ceiling: what 32 concurrent local tasks need (sized on a 128 GiB box)
_DRIVER_MEM_CAP_MB = 24 * 1024


def _default_driver_memory() -> str:
    """A quarter of physical memory (``MemTotal``), capped at 24g.

    A fixed 24g heap outgrows a 15 GB box, where the kernel kills the JVM
    once the heap has grown past free memory. Without ``/proc/meminfo``
    (non-Linux hosts) the cap is used.
    """
    try:
        with open("/proc/meminfo") as fh:
            mem_total_kb = int(fh.readline().split()[1])  # "MemTotal: N kB"
    except OSError:
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(mem_total_kb // 4 // 1024, _DRIVER_MEM_CAP_MB)}m"


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime SQL confs the engine's reads depend on.

    The engine must work on *any* caller-provided SparkSession (a driver
    harness, a notebook, a cluster job), not only the one ``get_spark()``
    builds. Both confs below are runtime SQL confs, so setting them here —
    immediately before the read that needs them — is safe and idempotent:

    - ``nanosAsLong``: the fixture ``events`` table carries
      TIMESTAMP(NANOS) parquet columns, which Spark rejects by default.
    - ``timeZone=UTC``: every ``unix_timestamp``/``date_trunc`` result
      must match the (timezone-naive) DuckDB oracle regardless of the
      host's local zone.
    - ``parallelPartitionDiscovery.threshold``: with explicit per-file
      path lists (the manifest corpus source), Spark fires a
      one-task-per-path listing JOB once the path count crosses the
      default threshold (32); driver-side stat of a bounded manifest is
      far cheaper (measured: removes a 355-task job per fresh
      DataFrame). Manifests beyond 100 k files fall back to the parallel
      listing, which on an object store at real scale is the right tool.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "100000"
    )


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one fixture table, normalizing the event-time column.

    The fixture ``events.ts`` column has shipped as two different parquet
    types across driver generations, so normalize BOTH to a plain
    session-zone TIMESTAMP (what windows, watermarks, and ``unix_micros``
    expect, and what the DuckDB oracle sees as a naive timestamp under the
    UTC session zone pinned above):

    - TIMESTAMP(NANOS): surfaces as BIGINT nanos under ``nanosAsLong``;
      truncate to micros with integer ``div`` (never float division, which
      loses precision above 2^53 ns).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
      TIMESTAMP_NTZ; cast to TIMESTAMP (the cast interprets the NTZ wall
      clock in the session zone — UTC — so the instant is exact).

    Other tables pass through untouched, keeping full predicate pushdown
    on their native columns.
    """
    from pyspark.sql import functions as F

    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the fixture star schema from ``sf_dir`` (TESTDATA.md layout).

    Parquet scans get column pruning + predicate pushdown from Catalyst for
    free; callers select only what they need.
    """
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view, so the whole schema is
    queryable with plain ``spark.sql(...)`` — the SQL-first entry point for
    users coming from a warehouse rather than the DataFrame API. Views are
    lazy: nothing is read until a query touches a table, and each view
    carries the same event-time normalization as ``load_table``.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
