"""Scale-evidence spot bench (r10 VERDICT next-round #6).

At sf0.1 every query is dominated by per-query fixed cost (median
8c/32c ratio 0.98 over 307 queries), so §2/§3 scaling claims are
unverifiable there. This script synthesizes a DETERMINISTIC ~sf1
dataset (10× sf0.1, written as 32 parquet splits so scans parallelize
the way real multi-file tables do), runs the heaviest data-bound
queries at 8 and at 32 cores, and writes the record to
``plans/r11/SCALE_BENCH_r11.json``.

Synthesis rule (pure function of the committed sf0.1 fixture, no RNG):
each table is tiled REPS times; key columns shift by ``replica *
stride`` (stride = 10^ceil(log10(max_id+1)), so replicas never
collide); document/text rows get a ``" r<k>"`` suffix for k>0 so the
corpus is not a 10-way clone flood (which would measure the clone
collapse, not the data path). This dataset feeds NOTHING but this
measurement — the bench/oracle contract still runs exclusively from
/root/testdata.

Usage:  python scripts/scale_bench.py [n_queries]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

#: the checkout this script lives in — it runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
DST = os.environ.get("SCALE_DIR", "/tmp/scale_sf1")
REPS = int(os.environ.get("SCALE_REPS", "10"))
OUT = os.path.join(REPO, "plans", "r11", "SCALE_BENCH_r11.json")

QUERIES = [
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "near_dup_clusters",
    "canonical_docs",
    "lsh_band_sweep",
    "near_dup_threshold_curve",
    "token_pagerank",
    "cdc_chunk_dedup",
    "incremental_dedup",
    "copurchase_clusters",
    "copurchase_kcore",
    "span_scrub",
    "simhash_near_dups",
    "bpe_train",
    "kmv_set_ops",
]

ID_COLS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
    # dimension tables stay 1×: part/supplier/nation/region
}
TEXT_COLS = {"documents": "text"}


def synthesize(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(DST, "_DONE")):
        print(f"reusing {DST}", flush=True)
        return
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)
    for name in (
        "region nation supplier part customer orders lineitem events "
        "documents embeddings"
    ).split():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        ids = ID_COLS.get(name, [])
        if ids:
            strides = {}
            for c in ids:
                mx = df.agg(F.max(F.col(c))).collect()[0][0] or 0
                s = 1
                while s <= mx:
                    s *= 10
                strides[c] = s
            rep = df.withColumn(
                "_r", F.explode(F.array(*[F.lit(i) for i in range(REPS)]))
            )
            for c in ids:
                rep = rep.withColumn(
                    c, F.col(c) + F.col("_r") * F.lit(strides[c])
                )
            tc = TEXT_COLS.get(name)
            if tc is not None:
                rep = rep.withColumn(
                    tc,
                    F.when(F.col("_r") == 0, F.col(tc)).otherwise(
                        F.concat(
                            F.col(tc),
                            F.lit(" r"),
                            F.col("_r").cast("string"),
                        )
                    ),
                )
            rep = rep.drop("_r")
        else:
            rep = df
        (
            rep.repartition(32)
            .write.mode("overwrite")
            .parquet(f"{DST}/{name}.parquet")
        )
        print(f"synthesized {name}", flush=True)
    open(os.path.join(DST, "_DONE"), "w").write("ok")


def run_at(cores: int, names: list[str]) -> dict[str, float]:
    import __spark_entry__ as entrymod
    from mapreduceindex_spark.functions import caching
    from mapreduceindex_spark.session import get_spark

    spark = get_spark(app_name=f"scale_bench_c{cores}", cores=cores,
                      shuffle_partitions=cores)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = entrymod.queries()
    out: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        runs = []
        for i in range(3):
            caching.release()  # cold-ish: no cross-query reuse inflates scaling
            spark.sparkContext.setJobDescription(f"scale:{name}:c{cores}:{i}")
            t0 = time.time()
            fn(spark, DST).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
            caching.release()
            spark._jvm.System.gc()
        out[name] = round(statistics.median(runs), 3)
        print(f"c{cores} {name}: {out[name]}s {['%.2f' % r for r in runs]}",
              flush=True)
    spark.stop()
    return out


def main() -> None:
    names = QUERIES[: int(sys.argv[1])] if len(sys.argv) > 1 else QUERIES
    from mapreduceindex_spark.session import get_spark

    spark = get_spark(app_name="scale_synth", cores=32)
    synthesize(spark)
    spark.stop()
    t32 = run_at(32, names)
    t8 = run_at(8, names)
    record = {
        "dataset": f"{REPS}x sf0.1 deterministic tiling ({DST})",
        "methodology": "median of 3 noop-sink runs, caching.release() "
        "before and after every run (no cross-query memo reuse), "
        "shuffle_partitions = cores",
        "c32": t32,
        "c8": t8,
        "ratio_8_over_32": {
            k: round(t8[k] / t32[k], 2) for k in t32 if t32[k] > 0
        },
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps(record["ratio_8_over_32"], indent=1), flush=True)


if __name__ == "__main__":
    main()
