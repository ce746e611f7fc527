"""Capture .explain("formatted") output for selected queries into
plans/<round>/<query>_<tag>.txt (PLANS_OUT env, default plans/r11) — the optimization round's before/after
plan evidence (guide §1: measure first; §7.2: read the plan).

Usage:
    python scripts/capture_plans.py before q1,q2,...
    python scripts/capture_plans.py after  q1,q2,...

Streaming queries run their plan inside the streaming harness; for
those the captured artifact is the BATCH result frame's plan (the
verification tail), which is still where most of their optimizable
batch work lives, plus a note marker.
"""

from __future__ import annotations

import os
import sys

#: the checkout this script lives in — it runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("PLANS_OUT", os.path.join(REPO, "plans", "r11"))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2].split(",")
    os.makedirs(OUT, exist_ok=True)

    import __spark_entry__ as entrymod
    from mapreduceindex_spark.session import get_spark

    spark = get_spark(app_name=f"plans_{tag}")
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"plan:{name}")
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        header = ""
        if name.startswith("streaming_"):
            header = (
                "NOTE: streaming query — the streaming stage plan runs "
                "inside the harness; this is the returned (batch) result "
                "frame's plan.\n\n"
            )
        with open(f"{OUT}/{name}_{tag}.txt", "w") as fh:
            fh.write(header + plan)
        print(f"captured {name} -> {name}_{tag}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
