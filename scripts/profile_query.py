"""Per-query phase profiler: split a query's wall time into BUILD
(the builder call — driver-side plan construction plus any collect()
jobs the builder runs) and EXEC (the noop-sink write of the returned
frame), guide §1-style, so optimization effort lands on the phase that
actually costs. Each run also prints its Janino compile count (the
``CodegenMetrics`` compilation count delta): a query that compiles on
every warm run generates different Java source per call and pays the
compile each time. Each phase runs under its own job group, and the run
prints the Spark jobs each group started (``jobs=BUILD/EXEC``): a
builder that only plans shows ``jobs=0/...``.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/profile_query.py q1,q2 [runs]
"""

from __future__ import annotations

import os
import sys
import time

#: the checkout this script lives in — it runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1].split(",")
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    import __spark_entry__ as entrymod
    from mapreduceindex_spark.functions import caching
    from mapreduceindex_spark.session import get_spark

    spark = get_spark(app_name="profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    sc = spark.sparkContext
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        for i in range(runs):
            run = f"profile:{name}:{i}"
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            sc.setJobGroup(f"{run}:build", run)
            t0 = time.time()
            df = fn(spark, SF)
            t1 = time.time()
            sc.setJobGroup(f"{run}:exec", run)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            sc._jsc.clearJobGroup()
            compiles = codegen.METRIC_COMPILATION_TIME().getCount() - c0
            jobs = [
                len(sc.statusTracker().getJobIdsForGroup(f"{run}:{phase}"))
                for phase in ("build", "exec")
            ]
            caching.release_unmemoized()
            spark._jvm.System.gc()
            print(
                f"{name} run{i}: build={t1 - t0:6.2f}s exec={t2 - t1:6.2f}s "
                f"total={t2 - t0:6.2f}s compiles={compiles} "
                f"jobs={jobs[0]}/{jobs[1]}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
