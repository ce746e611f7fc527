"""Scale stress on a 10×-clone corpus (the adversarial shape for dedup:
every shingle df inflated 10×, quadratic pair pressure inside clone
groups). Builds 10 clones of each sf0.1 document (~50k docs) and times
the near-dup pipeline tiers, printing one JSON line.

Usage: python scripts/stress_clones.py [clone_factor]
"""

from __future__ import annotations

import json
import os
import sys
import time

#: the checkout this script lives in — it runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from mapreduceindex_spark.operators import dedup as D
from mapreduceindex_spark.session import get_spark, load_table


def main():
    clones = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="stress_clones")
    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text", "source"
    )
    n_base = docs.count()
    cloned = (
        docs.select(
            "doc_id",
            "text",
            "source",
            F.explode(F.sequence(F.lit(0), F.lit(clones - 1))).alias("c"),
        )
        .select(
            (F.col("doc_id") + F.col("c") * F.lit(n_base * 10)).alias("doc_id"),
            "text",
            "source",
        )
    )
    cloned.persist()
    n = cloned.count()

    timings = {}
    only = None
    import os

    if os.environ.get("ONLY"):
        only = set(os.environ["ONLY"].split(","))

    def timed(name, fn):
        if only is not None and name not in only:
            return
        t0 = time.time()
        out = fn()
        cnt = out.count()
        timings[name] = {"sec": round(time.time() - t0, 2), "rows": cnt}
        spark.catalog.clearCache()
        cloned.persist().count()
        spark._jvm.System.gc()

    timed(
        "near_dup_clusters_exact",
        lambda: D.near_dup_clusters(cloned, n=3, threshold=0.5, candidates="exact"),
    )
    timed(
        "near_dup_clusters_lsh",
        lambda: D.near_dup_clusters(cloned, n=3, threshold=0.5, candidates="lsh"),
    )
    timed(
        "ngram_jaccard_pairs",
        lambda: D.ngram_jaccard_pairs(cloned, n=3, threshold=0.5),
    )
    timed(
        "minhash_lsh_pairs",
        lambda: D.minhash_lsh_pairs(cloned, n=3, threshold=0.5),
    )
    # round-3 span-level dedup: the clone corpus makes EVERY position
    # hot (each doc has ≥ clone_factor-1 byte-identical twins), so this
    # is the worst case for the interval merge — output stays one
    # full-doc span per doc, never a quadratic pair set.
    timed(
        "dup_spans",
        lambda: D.dup_spans(cloned, n=8, min_docs=2),
    )
    # round-3 media clone collapse: 10× image clones collapse to one rep
    # per distinct dHash before the band join (the same pre-collapse the
    # text tiers use), so cost tracks DISTINCT images, not the corpus.
    from mapreduceindex_spark.operators import multimodal as M

    timed(
        "media_dup_clusters",
        lambda: M.media_dup_clusters(cloned),
    )
    # round-4 heavy tail (VERDICT r03 next-round #8): both ride the pair
    # front end. minhash_accuracy re-pays the exact + LSH pair searches
    # plus two signature joins — output-proportional, so the clone corpus
    # (maximal pair pressure) is its worst case. cross_source_overlap
    # dedups per (source, shingle-hash) BEFORE the self-join, so 10×
    # cloning must NOT grow its join input — cost tracks distinct
    # content per source, not corpus size.
    from mapreduceindex_spark.operators import corpus as CP

    timed(
        "minhash_accuracy",
        lambda: D.minhash_accuracy(
            cloned, n=3, num_hashes=16, bands=4, threshold=0.5
        ),
    )
    timed(
        "cross_source_overlap",
        lambda: CP.cross_source_overlap(cloned),
    )
    # round-4 graph claim under stress: 10× cloning multiplies token and
    # edge WEIGHTS but leaves the node/edge SETS unchanged, so the
    # vocabulary-bounded design means runtime must track the one token
    # pass, not 10× the iteration cost.
    from mapreduceindex_spark.operators import graph as G

    timed(
        "token_pagerank",
        lambda: G.token_pagerank(cloned),
    )
    # round-4 layout claim under stress: 10× lineitem (6M rows) through
    # the two-phase Z-order rank — the offsets frame stays bounded by
    # the 4^bits key space, so only the data exchanges scale.
    from mapreduceindex_spark.operators import layout as LY

    li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
    li10 = li.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(clones - 1))).alias("_c")
    ).drop("_c")
    timed(
        "zorder_layout_10x",
        lambda: LY.zorder_layout(li10),
    )
    # round-5 tail (VERDICT r04 next-round #6):
    # curation_funnel composes three aggregates over the SAME near-dup
    # pipeline — the stress checks the pair front end is paid once per
    # gate and never re-derived super-linearly across the composition.
    timed(
        "curation_funnel",
        lambda: CP.curation_funnel(cloned, quality_min=0.5, n=3, threshold=0.5),
    )
    # profiler on 10× orders, both cardinality modes: the default HLL
    # plan is one Expand-free pass (the shape a routine 100 TB health
    # check must keep); exact mode pays the deliberate 9× Expand.
    from mapreduceindex_spark.operators import profiling as PF

    o10 = load_table(spark, "/root/testdata/sf0.1", "orders").select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(clones - 1))).alias("_c")
    ).drop("_c")
    timed("profile_orders_10x_default", lambda: PF.profile_table(o10))
    timed(
        "profile_orders_10x_exact", lambda: PF.profile_table(o10, exact=True)
    )
    # trained IVF on 10× embeddings: the k-means fit iterates over the
    # full table (the one data-scaling pass) but its collect stays k×dim;
    # the probe search remains candidate-bounded.
    from mapreduceindex_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n_emb = emb.count()
    emb10 = emb.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(clones - 1))).alias("_c")
    ).select(
        (F.col("vec_id") + F.col("_c") * F.lit(n_emb * 10)).alias("vec_id"),
        "embedding",
        "label",
    )
    timed(
        "ivf_topk_trained_10x",
        lambda: S.ivf_topk_trained(emb10),
    )
    # round-6: incremental (delta-vs-base) dedup on the clone corpus —
    # the adversarial shape for it: ~90% of delta docs are exact clones
    # of base docs (md5 tier must absorb them before the band join),
    # and every base clone group must collapse to ONE representative or
    # the candidate space multiplies by the clone factor.
    timed(
        "incremental_dedup_10x",
        lambda: D.incremental_dedup(cloned),
    )
    # round-6 tail: the Pareto frontier's windows must stay bounded by
    # bucket metadata (never 10× rows), MERGE's cost is the one keyed
    # join, and typo mining must stay vocabulary-bounded (clones add
    # ZERO new vocabulary — near-flat cost is the proof)
    from mapreduceindex_spark.operators import profiling as PR
    from mapreduceindex_spark.operators import relational as RL
    from mapreduceindex_spark.operators import text_analysis as TX

    timed("skyline_orders_10x", lambda: RL.skyline_orders(o10))
    # MERGE needs unique keys (o10 has 10 copies of each — a keyed
    # join over that measures key duplication, not MERGE): remap
    o10m = li.sparkSession.read.parquet(
        "/root/testdata/sf0.1/orders.parquet"
    ).selectExpr("*").select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(clones - 1))).alias("_c")
    ).selectExpr(
        "o_orderkey + _c * 10000000 AS o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    timed(
        "merge_upsert_10x",
        lambda: PR.merge_upsert(
            o10m,
            o10m.filter("o_orderkey % 7 = 0").selectExpr(
                "*", "'upsert' AS _op"
            ),
        ),
    )
    timed("typo_pairs_10x", lambda: TX.typo_pairs(cloned))
    # round-6 tail: cloning makes every word df ≥ clone_factor, so the
    # rare census is EMPTY — cost must track the one distinct-pairs
    # aggregation (linear), with the doc-keyed join on an empty side.
    timed("rare_token_ratio_10x", lambda: TX.rare_token_ratio(cloned))
    # covariance partials are d²-bounded per batch no matter how many
    # rows — 10× embeddings must cost ~10× scan, never 10× shuffle.
    timed(
        "embedding_covariance_topk_10x",
        lambda: S.embedding_covariance_topk(emb10),
    )
    # asymmetric containment under maximal clone pressure: the
    # adaptive pre-collapse must keep the self-join at unique-content
    # level, with the half-million-pair output the honest cost
    timed("containment_pairs_10x", lambda: D.containment_pairs(cloned))
    # the same pair plan with the family front end already memoized (the
    # state any earlier near-dup call on the corpus leaves): one untimed
    # call builds the front end, then the median of 3 times the
    # collapsed containment plan alone — run at a low clone factor too,
    # where the duplicate mass is small
    if only is None or "containment_pairs_warm" in only:
        D.containment_pairs(cloned).count()
        secs = []
        for _ in range(3):
            t0 = time.time()
            cnt = D.containment_pairs(cloned).count()
            secs.append(time.time() - t0)
        timings["containment_pairs_warm"] = {
            "sec": round(sorted(secs)[1], 2),
            "rows": cnt,
        }
        spark.catalog.clearCache()
        cloned.persist().count()
        spark._jvm.System.gc()
    # round-7 claims under stress:
    # - repetition_profile is per-doc (two doc-keyed folds): 10× docs
    #   must cost ~10× scan, no cross-doc blowup exists to trigger
    # - copurchase_clusters dedups (order, part) FIRST: 10× duplicated
    #   lineitem rows collapse before the self-join, so cost tracks
    #   distinct baskets, and the component tier is edge-bounded
    # - active_user_rollup's constant-offset emission rides the DEDUPED
    #   (user, day) frame: 10× duplicate events collapse at the first
    #   distinct, so the 38× amplification applies to the same frame
    # - embedding_power_iteration's shuffle is d²-bounded per task:
    #   10× embeddings is ~10× scan, the collect and iteration are
    #   model-sized either way
    timed("repetition_profile_10x", lambda: TX.repetition_profile(cloned))
    timed(
        "copurchase_clusters_10x",
        lambda: G.copurchase_clusters(
            li10, load_table(spark, "/root/testdata/sf0.1", "part")
        ),
    )
    from mapreduceindex_spark.operators import events as EV

    ev10 = load_table(spark, "/root/testdata/sf0.1", "events").select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(clones - 1))).alias("_c")
    ).drop("_c")
    timed("active_user_rollup_10x", lambda: EV.active_user_rollup(ev10))
    from mapreduceindex_spark.operators import clustering as CLU

    timed(
        "embedding_power_iteration_10x",
        lambda: CLU.embedding_power_iteration(emb10),
    )
    # round-7 tail claims (the three ops without a stress row, VERDICT
    # r07 #10):
    # - conversion_latency_quantiles: the per-user (first view, first
    #   later purchase) fold dedups per user BEFORE the quantile
    #   engine, so 10× duplicated events collapse at the user aggregate
    #   and the two-phase nearest-rank pick sees the same bucket frame
    # - changepoint_scan: one day-keyed aggregate + a metadata-sized
    #   dense grid — 10× events is ~10× scan into the same ~30-row grid
    # - yoy_nation_revenue: dims broadcast, fact aggregates to
    #   (nation × year) before the LAG — 10× orders is ~10× scan into
    #   the same dimension-bounded window frame
    timed(
        "conversion_latency_quantiles_10x",
        lambda: EV.conversion_latency_quantiles(ev10),
    )
    timed("changepoint_scan_10x", lambda: EV.changepoint_scan(ev10))
    from mapreduceindex_spark.operators import relational as R

    o10r = load_table(spark, "/root/testdata/sf0.1", "orders").select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(clones - 1))).alias("_c")
    ).drop("_c")
    timed(
        "yoy_nation_revenue_10x",
        lambda: R.yoy_nation_revenue(
            o10r,
            load_table(spark, "/root/testdata/sf0.1", "customer"),
            load_table(spark, "/root/testdata/sf0.1", "nation"),
        ),
    )
    # round-8 tail claims (VERDICT r08 #8):
    # - lsh_recall composes BOTH pair tiers over ONE shared clone-
    #   collapsed shingle frame — the 10× corpus must collapse at the
    #   md5 tier once, so cost tracks the two rep-level tiers, not 10×
    # - copurchase_triangles enumerates on the support-filtered edge
    #   set: 10× duplicated lineitem rows collapse at the (order, part)
    #   dedup, so the edge set (and the triangle join) is unchanged
    # - char_entropy_by_source folds to a (source × char) frame — 10×
    #   rows is ~10× scan into the same ≤ sources×256 aggregate
    # - top_terms_per_doc is per-doc top-k over TF-IDF: 10× docs is
    #   ~10× scan + the same vocabulary-bounded df side
    # - index_lifecycle pays a REAL bucketed write/read: the stored
    #   artifact grows with the corpus, so ~linear cost including I/O
    #   is the claim (the merge's stored side stays zero-exchange)
    timed("lsh_recall_10x", lambda: D.lsh_recall(cloned))
    timed(
        "copurchase_triangles_10x",
        lambda: G.copurchase_triangles(
            li10, load_table(spark, "/root/testdata/sf0.1", "part")
        ),
    )
    timed(
        "char_entropy_by_source_10x",
        lambda: TX.char_entropy_by_source(cloned),
    )
    timed("top_terms_per_doc_10x", lambda: TX.top_terms_per_doc(cloned))
    from mapreduceindex_spark.operators import inverted_index as II

    timed(
        "index_lifecycle_10x",
        lambda: II.index_lifecycle(spark, cloned),
    )
    # round-9 claims:
    # - bpe_train iterates over the VOCABULARY frequency table: clones
    #   multiply frequencies, not vocabulary, so the K iterations cost
    #   the same and only the one word-count scan scales
    # - span_scrub's coverage explosion is bounded by MARKED positions:
    #   the clone corpus makes every position hot, so this is its worst
    #   case — cost must stay ~linear in corpus size, never pairwise
    timed("bpe_train_10x", lambda: TX.bpe_train(cloned))
    # the filter on a right-side column defeats Catalyst's outer-join
    # elimination under count() (aggregates are provably unique per
    # doc_id, so a bare count() would never execute the scrub at all —
    # a 0.39 s "result" measured exactly that)
    timed(
        "span_scrub_10x",
        lambda: D.span_scrub(cloned).filter("n_removed_words >= 0"),
    )
    # round-9 CDC chunking: boundaries are a pure per-position
    # projection, so the clone corpus (10× positions, maximal chunk
    # recurrence — every chunk has ≥ clone_factor twins) must scale
    # ~linearly in positions; dup-chunk accounting rides one hash join.
    timed("cdc_chunk_dedup_10x", lambda: D.cdc_chunk_dedup(cloned))
    # round-9 third wave: the band sweep's clone discipline under its
    # adversarial shape — group-size-WEIGHTED bucket sizes mean 10×
    # cloning grows only the clone-group map, never the signature or
    # probe-aggregate row counts; probe counts still price the raw
    # (uncollapsed) corpus, so n_probe_pairs grows ~100× while runtime
    # must track the rep-level work.
    timed("lsh_band_sweep_10x", lambda: D.lsh_band_sweep(cloned))
    # readability is a pure scan+agg: 10× docs ⇒ ~10× scan, flat agg
    from mapreduceindex_spark.operators import text_analysis as TX2

    timed("readability_scores_10x", lambda: TX2.readability_scores(cloned))
    print(json.dumps({"n_docs": n, "clone_factor": clones, "timings": timings}))


if __name__ == "__main__":
    main()
