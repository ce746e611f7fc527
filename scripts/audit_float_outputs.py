"""Audit every queries() output for the driver hash_fail risk class
(VERDICT r04 "Next round" #3).

``embedding_dim_stats`` hash_failed at the driver for two rounds while
being bit-exact locally; the surviving hypothesis is float *string*
serialization of small-magnitude doubles (scientific-notation thresholds
differ per engine/version). This audit runs every registry query at
sf0.001 and flags, per double column:

  - ``tiny``: any nonzero value with abs < 1e-4 — Python/most engines
    flip to scientific notation below 1e-4, so these are exactly the
    values whose string form is engine-dependent;
  - ``non_q6``: any value that is not on the 1e-6 grid (i.e. not the
    output of the exact.py tie-free micro/q6 family or a coarser
    rounding) — a float that never passed through explicit quantization
    is one arithmetic drift away from a hash mismatch;
  - ``huge``: abs >= 1e16 — the other scientific-notation edge (doubles
    can no longer represent every integer, and engines diverge on
    whether to print exponent form).

Usage:  python scripts/audit_float_outputs.py   (≈2 min at sf0.001)
Exit 1 if anything is flagged. The same predicate is pinned per-query in
CI: tests/conftest.py::assert_df_matches_oracle audits every Spark-side
frame the oracle-parity gate materializes (and the rows-only branch in
tests/test_oracle_parity.py covers the rest), so a regression into the
risk class fails the suite.
"""

from __future__ import annotations

import importlib.util
import os
import sys

#: the checkout this script lives in — it runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

from mapreduceindex_spark.functions.floataudit import column_flags

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("audit_float_outputs")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    only = os.environ.get("ONLY")
    Q = mod.queries()
    names = only.split(",") if only else list(Q)
    flagged = {}
    for name in names:
        try:
            sdf = Q[name](spark, SF_DIR)
            fcols = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("double", "float")
            ]
            if not fcols:
                print(f"ok   {name}: no float columns", flush=True)
                continue
            pdf = sdf.select(*fcols).toPandas()
        except Exception as e:  # noqa: BLE001
            flagged[name] = {"<error>": str(e)[:200]}
            print(f"ERR  {name}: {e}", flush=True)
            continue
        bad = {}
        for c in fcols:
            fl = column_flags(pdf[c].tolist())
            if fl:
                bad[c] = sorted(fl)
        if bad:
            flagged[name] = bad
            print(f"FLAG {name}: {bad}", flush=True)
        else:
            print(f"ok   {name}: {len(fcols)} float cols clean", flush=True)

    print(f"\n{len(flagged)} flagged of {len(names)}")
    for k, v in flagged.items():
        print(f"  {k}: {v}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()


