"""Shared fixtures: one SparkSession per test session, DuckDB with the
fixture tables registered as views (mirrors the driver's oracle harness)."""

from __future__ import annotations

import os

import duckdb
import pytest

from mapreduceindex_spark.session import TABLES, get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


#: the suite's cores and shuffle partitions: the box's, not a fixed count
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=CPUS, shuffle_partitions=CPUS)
    yield s


@pytest.fixture(scope="session")
def batch_query_plans(spark):
    """Every batch ``queries()`` entry built once on the sf0.001 tables,
    its executed plan fixed right after its build, as ``{name: df}``.

    The registry-wide plan audits (``test_plan_lint``,
    ``test_plan_properties``) read only these plans. Building a query can
    run Spark jobs of its own (probes, eager stages), so one shared build
    halves the audits' cost. The plan is fixed at build time because a
    later query's build may release a cache this plan reads: a plan
    planned after that would show the recomputed lineage instead.
    Streaming queries are left out: building them runs the stream.
    """
    import __spark_entry__ as entrymod

    frames = {}
    for name, fn in entrymod.queries().items():
        if name.startswith("streaming_"):
            continue
        df = fn(spark, SF_SMALL)
        df._jdf.queryExecution().executedPlan()
        frames[name] = df
    return frames


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    yield con
    con.close()


def assert_df_matches_oracle(spark_df, duck_con, sql, check_schema=True):
    """Order-insensitive comparison of a Spark result vs DuckDB SQL —
    the same contract the driver's CORRECTNESS gate applies."""
    import math

    from mapreduceindex_spark.functions.floataudit import audit_pandas

    sdf = spark_df.toPandas()
    fcols = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in ("double", "float")
    ]
    flagged = audit_pandas(sdf, fcols)
    assert not flagged, (
        f"float output columns in the driver hash-risk class (emit BIGINT "
        f"micro units instead — see functions/floataudit.py): {flagged}"
    )
    ddf = duck_con.sql(sql).df()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"column mismatch: {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = ddf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b), f"row count {len(a)} vs {len(b)}"

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return round(v, 9)
        return v

    for c in cols:
        av = [norm(v) for v in a[c].tolist()]
        bv = [norm(v) for v in b[c].tolist()]
        assert av == bv, (
            f"column {c} differs; first mismatch at "
            f"{next((i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if x != y)}"
        )
