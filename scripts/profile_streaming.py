"""Streaming-query phase profiler (guide §1): split each streaming
query's wall time into BUILD (builder code before the streaming query
starts: schema reads, batch probes, plan construction), START
(``writer.start()`` — query planning + state-store/checkpoint init),
DRAIN (``awaitTermination`` — the actual micro-batch work), STOP
(``q.stop()``) and POST (the noop-sink write of the returned batch
frame, i.e. sink table + downstream batch plan).

Usage: SPARK_GRAFT_SF_DIR=... python scripts/profile_streaming.py q1,q2 [runs]
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
    from mapreduceindex_spark.streaming import pipelines

    phases: dict[str, float] = {}
    orig = pipelines._run_to_table

    def timed_run_to_table(agg, mode="complete", partitions=4,
                           checkpoint_dir=None, no_data_batches=False):
        spark = agg.sparkSession
        import uuid

        name = "s" + uuid.uuid4().hex[:12]
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        prev_ndmb = spark.conf.get(
            "spark.sql.streaming.noDataMicroBatches.enabled", "true"
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled",
            "true" if no_data_batches else "false",
        )
        try:
            writer = (
                agg.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
            )
            if checkpoint_dir is not None:
                writer = writer.option("checkpointLocation", checkpoint_dir)
            t0 = time.time()
            q = writer.start()
            t1 = time.time()
            try:
                q.awaitTermination()
                t2 = time.time()
            finally:
                q.stop()
            t3 = time.time()
            phases["start"] = phases.get("start", 0) + (t1 - t0)
            phases["drain"] = phases.get("drain", 0) + (t2 - t1)
            phases["stop"] = phases.get("stop", 0) + (t3 - t2)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
            )
        return spark.table(name)

    pipelines._run_to_table = timed_run_to_table

    spark = get_spark(app_name="profile_streaming")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        for i in range(runs):
            phases.clear()
            spark.sparkContext.setJobDescription(f"profstream:{name}:{i}")
            t0 = time.time()
            df = fn(spark, SF)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            caching.release_unmemoized()
            spark._jvm.System.gc()
            inside = sum(phases.values())
            print(
                f"{name} run{i}: build={t1 - t0 - inside:5.2f}s "
                f"start={phases.get('start', 0):5.2f}s "
                f"drain={phases.get('drain', 0):5.2f}s "
                f"stop={phases.get('stop', 0):5.2f}s "
                f"post={t2 - t1:5.2f}s total={t2 - t0:6.2f}s",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
