"""Full driver-contract drive: run every queries() entry at sf0.01 and
compare against its oracle_sql() in DuckDB — the same gate the driver's
correctness harness applies (sorted-by-column values, floats rounded to
9dp, NaN==None).

Usage:
    python scripts/verify_drive.py            # all queries
    ONLY=q1,q2 python scripts/verify_drive.py # subset

The SparkSession here is deliberately BARE (no get_spark() configs) to
mirror the driver harness; the engine must establish its own read-time
confs (see mapreduceindex_spark.session.ensure_session_confs).
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys
import time

#: the checkout this script lives in — the drive runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 9)
    return v


def compare(sdf, ddf, name):
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"schema: {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    cols = sorted(sdf.columns)
    # dtype gate: a dtype divergence (e.g. DuckDB HUGEINT -> float64 vs
    # Spark int64) hashes differently at the driver even when values
    # compare equal — the r03-r05 embedding_dim_stats failure class.
    # Nullable int columns legitimately arrive as float64/object on one
    # side only when NULLs are present, so only flag the int-vs-float
    # shape when neither side has nulls in that column.
    for c in cols:
        sk, dk = sdf[c].dtype.kind, ddf[c].dtype.kind
        if (
            sk != dk
            and {sk, dk} <= {"i", "f"}
            and not sdf[c].isna().any()
            and not ddf[c].isna().any()
        ):
            return f"dtype col={c}: spark {sdf[c].dtype} vs oracle {ddf[c].dtype}"
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = ddf[cols].sort_values(cols).reset_index(drop=True)
    if len(a) != len(b):
        return f"rows: {len(a)} vs {len(b)}"
    for c in cols:
        av = [norm(v) for v in a[c].tolist()]
        bv = [norm(v) for v in b[c].tolist()]
        if av != bv:
            i = next(j for j in range(len(av)) if av[j] != bv[j])
            return f"values col={c} row={i}: {av[i]!r} vs {bv[i]!r}"
    return None


def main():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName("verify_drive")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    # smoke the entry point first
    rows = mod.entry(spark).collect()
    print(f"entry(): {len(rows)} rows", flush=True)
    assert len(rows) > 0, "entry() returned no rows"

    Q, O = mod.queries(), mod.oracle_sql()
    only = os.environ.get("ONLY")
    names = only.split(",") if only else list(Q)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            sdf = Q[name](spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark err {e}", flush=True)
            failed.append(name)
            continue
        sql = O.get(name)
        if sql is None:
            print(f"ok   {name}: rows-only ({len(sdf)}) "
                  f"[{time.time()-t0:.1f}s]", flush=True)
            continue
        try:
            ddf = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle err {e}", flush=True)
            failed.append(name)
            continue
        err = compare(sdf, ddf, name)
        if err:
            print(f"FAIL {name}: {err}", flush=True)
            failed.append(name)
        else:
            print(f"ok   {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]",
                  flush=True)
    print(f"\n{len(names)-len(failed)}/{len(names)} passed", flush=True)
    if failed:
        print("failed:", ", ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main()
