"""Edge-case robustness: empty inputs, degenerate documents, salt parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduceindex_spark.operators import dedup as D
from mapreduceindex_spark.operators import text_analysis as TA
from mapreduceindex_spark.operators.inverted_index import (
    inverted_index,
    inverted_index_flat,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_empty_input_flagship(spark):
    docs = _docs(spark, [(1, "hello world")]).filter("doc_id < 0")
    assert inverted_index(docs).count() == 0


def test_punctuation_only_docs_vanish(spark):
    # Every token normalizes to '' → doc contributes nothing (O4+O5).
    docs = _docs(spark, [(1, "123 !!! ..."), (2, "real words")])
    idx = {r["word"] for r in inverted_index(docs).collect()}
    assert idx == {"real", "words"}


def test_single_word_duplicated(spark):
    docs = _docs(spark, [(1, "a a a a")])
    rows = inverted_index(docs).collect()
    assert len(rows) == 1
    assert rows[0]["word"] == "a"
    assert rows[0]["df"] == 1
    assert list(rows[0]["doc_ids"]) == [1]


def test_salted_equals_unsalted(spark):
    docs = _docs(
        spark,
        [(i, f"common word{i % 3} word{i % 5}") for i in range(1, 31)],
    )
    plain = sorted(
        tuple(r) for r in inverted_index_flat(docs).collect()
    )
    salted = sorted(
        tuple(r) for r in inverted_index_flat(docs, salt_buckets=4).collect()
    )
    assert plain == salted


def test_jaccard_identical_docs(spark):
    docs = _docs(
        spark,
        [
            (1, "one two three four five six"),
            (2, "one two three four five six"),
            (3, "totally different content here now ok"),
        ],
    )
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [
        (1, 2, 1.0)
    ]


def test_short_doc_single_shingle(spark):
    # Docs with ≤ n words produce exactly one all-words shingle.
    docs = _docs(spark, [(1, "just two"), (2, "a b c")])
    got = {
        (r["doc_id"], r["shingle"])
        for r in D.doc_shingles(docs, n=3).collect()
    }
    assert got == {(1, "just two"), (2, "a b c")}


def test_merge_index_equals_full_rebuild(spark):
    from mapreduceindex_spark.operators.inverted_index import merge_index

    a = _docs(spark, [(1, "alpha beta gamma"), (2, "beta delta")])
    b = _docs(spark, [(3, "gamma epsilon"), (4, "alpha alpha zeta")])
    merged = sorted(
        (r["word"], r["df"], tuple(r["doc_ids"]))
        for r in merge_index(inverted_index(a, ordered=False), b).collect()
    )
    full = sorted(
        (r["word"], r["df"], tuple(r["doc_ids"]))
        for r in inverted_index(a.union(b)).collect()
    )
    assert merged == full


def test_search_docs_modes(spark):
    from mapreduceindex_spark.operators.inverted_index import search_docs

    docs = _docs(
        spark,
        [(1, "cat dog"), (2, "cat bird"), (3, "dog dog fish"), (4, "moose")],
    )
    any_hits = {
        (r["doc_id"], r["n_matched"])
        for r in search_docs(docs, ["Cat!", "dog"], mode="any").collect()
    }
    assert any_hits == {(1, 2), (2, 1), (3, 1)}
    all_hits = {
        r["doc_id"] for r in search_docs(docs, ["cat", "dog"], mode="all").collect()
    }
    assert all_hits == {1}


def test_jaccard_tiers_agree(spark):
    # The direct count-based tier and the prefix-filtered tier must
    # produce identical (doc_a, doc_b, jaccard) sets.
    docs = _docs(
        spark,
        [
            (i, f"shared prefix words here plus unique tail {i % 4} {i % 7}")
            for i in range(1, 25)
        ],
    )
    direct = sorted(
        tuple(r) for r in D.ngram_jaccard_pairs(docs, 3, 0.5).collect()
    )
    prefix = sorted(
        tuple(r)
        for r in D.ngram_jaccard_pairs(
            docs, 3, 0.5, direct_join_max_df2=0
        ).collect()
    )
    assert direct == prefix and len(direct) > 0


def test_cluster_tiers_agree(spark):
    # The driver union-find tier and the distributed label-propagation
    # tier must produce identical components.
    dup = "the same exact sentence repeated for duplication purposes here"
    docs = _docs(
        spark,
        [(1, dup), (2, dup), (3, dup + " extra"), (4, "unrelated text entirely about nothing")],
    )
    small = sorted(
        tuple(r) for r in D.near_dup_clusters(docs, n=3, threshold=0.5).collect()
    )
    large = sorted(
        tuple(r)
        for r in D.near_dup_clusters(
            docs, n=3, threshold=0.5, driver_max_edges=0
        ).collect()
    )
    assert small == large
    assert small[0] == (1, 1) and small[1] == (2, 1)

    # The tier boundary of the bounded edge collect: k edges run on the
    # driver at driver_max_edges=k and distributed at k-1 (the
    # distributed tier tracks its labels frame; the driver tier caches
    # nothing).
    from mapreduceindex_spark.functions import caching

    edges = [(1, 2), (2, 3), (5, 6), (8, 7)]
    pair_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 10)], "doc_id long")
    k = len(edges)
    driver = sorted(
        tuple(r)
        for r in D.resolve_components(pair_df, ids, driver_max_edges=k).collect()
    )
    assert "resolve_components" not in caching._LIVE
    dist = sorted(
        tuple(r)
        for r in D.resolve_components(
            pair_df, ids, driver_max_edges=k - 1
        ).collect()
    )
    assert len(caching._LIVE["resolve_components"]) == 1
    caching.release("resolve_components")
    assert driver == dist == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7), (8, 7), (9, 9)
    ]

    # A path needs one propagation round per hop (5 here, plus one that
    # sees no change). Each round must read the previous labels once: a
    # round that read them twice grew the plan 4× per round (27 MB of
    # optimized plan text for this path).
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    res = D.resolve_components(path, ids, driver_max_edges=0)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 5_000_000, len(plan)
    assert sorted(tuple(r) for r in res.collect()) == [
        (i, 1 if i <= 6 else i) for i in range(1, 10)
    ]
    caching.release("resolve_components")


def test_tf_idf_single_doc_is_zero(spark):
    # idf = ln(1/1) = 0 for every word when the corpus is one doc.
    docs = _docs(spark, [(1, "alpha beta alpha")])
    rows = TA.tf_idf(docs).collect()
    assert rows and all(r["tfidf"] == 0.0 for r in rows)


def test_cluster_candidate_tiers_agree(spark):
    # exact-jaccard candidates vs minhash-LSH candidates: identical
    # clusters when the near-dup structure is clear (exact clones always
    # collide in every band; distinct contents share no shingles).
    dup = "one sentence cloned many times for the clustering stress here"
    other = "a completely different document about some other topic now"
    docs = _docs(
        spark,
        [(i, dup) for i in range(1, 8)]
        + [(i, other) for i in range(8, 12)]
        + [(12, "unique single text standing alone quietly")],
    )
    exact = sorted(
        tuple(r)
        for r in D.near_dup_clusters(
            docs, n=3, threshold=0.5, candidates="exact"
        ).collect()
    )
    lsh = sorted(
        tuple(r)
        for r in D.near_dup_clusters(
            docs, n=3, threshold=0.5, candidates="lsh"
        ).collect()
    )
    assert exact == lsh
    assert exact[0] == (1, 1) and exact[6] == (7, 1)
    assert exact[7] == (8, 8) and exact[10] == (11, 8)
    assert exact[11] == (12, 12)


def test_cluster_star_edges_match_full_expansion(spark):
    # the clone star-edge shortcut must give the same components as the
    # quadratic all-pairs expansion (which ngram_jaccard_pairs emits)
    dup = "the same exact sentence repeated for duplication purposes here"
    docs = _docs(
        spark,
        [(i, dup) for i in range(1, 6)]
        + [(6, dup + " with a small tail"), (7, "nothing in common at all")]
        + [(8, ""), (9, "")]  # byte-identical empties must NOT cluster
        # byte-identical, non-empty, but no normalized word: no shingles
        + [(10, "42 17"), (11, "42 17")],
    )
    got = {
        (r["doc_id"], r["cluster_rep"])
        for r in D.near_dup_clusters(docs, n=3, threshold=0.5).collect()
    }
    assert got == {(i, 1) for i in range(1, 7)} | {
        (i, i) for i in (7, 8, 9, 10, 11)
    }
    # the same word test decides the pair operators' clone expansion
    wordless = {8, 9, 10, 11}
    for pairs in (
        D.ngram_jaccard_pairs(docs, n=3, threshold=0.5),
        D.minhash_lsh_pairs(docs, n=3, threshold=0.5),
        D.containment_pairs(docs, n=3),
    ):
        rows = pairs.collect()
        assert rows
        assert not [r for r in rows if {r["doc_a"], r["doc_b"]} & wordless]


def test_deterministic_sample_monotone_and_stable(spark):
    from mapreduceindex_spark.operators.corpus import deterministic_sample

    docs = _docs(spark, [(i, f"document number {i} body text") for i in range(200)])
    s10 = {r["doc_id"] for r in deterministic_sample(docs, 10).collect()}
    s20 = {r["doc_id"] for r in deterministic_sample(docs, 20).collect()}
    s10b = {r["doc_id"] for r in deterministic_sample(docs.repartition(7), 10).collect()}
    assert s10 <= s20  # monotone: scaling the sample up never re-draws
    assert s10 == s10b  # partitioning-independent
    assert 0 < len(s10) < 200


def test_range_join_counts_nearby_errors(spark):
    from pyspark.sql import functions as F

    from mapreduceindex_spark.operators.events import range_join_error_context

    base = 1_700_000_000
    rows = [
        # user 1: purchase with errors at -599s, +600s (both in), +601s (out)
        (1, 1, base, "purchase"),
        (2, 1, base - 599, "error"),
        (3, 1, base + 600, "error"),
        (4, 1, base + 601, "error"),
        # user 2: purchase with no errors; user 1's errors must not leak
        (5, 2, base, "purchase"),
        # user 1: second purchase far away, near one error only
        (6, 1, base + 10_000, "purchase"),
        (7, 1, base + 10_300, "error"),
    ]
    events = spark.createDataFrame(
        rows, ["event_id", "user_id", "epoch", "event_type"]
    ).select(
        "event_id", "user_id",
        F.timestamp_seconds("epoch").alias("ts"), "event_type",
    )
    got = {
        (r["user_id"], r["purchase_id"]): r["n_errors_nearby"]
        for r in range_join_error_context(events, window_sec=600).collect()
    }
    assert got == {(1, 1): 2, (2, 5): 0, (1, 6): 1}


def test_simhash_near_dups_empty_and_identical(spark):
    from mapreduceindex_spark.operators.dedup import simhash_near_dups

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert simhash_near_dups(empty).count() == 0
    # identical token sets -> identical fingerprints -> hamming-0 pair
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "unrelated")],
        ["doc_id", "text"],
    )
    rows = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_dups(docs).collect()}
    assert rows.get((1, 2)) == 0


def test_lm_doc_scores_degenerate_docs(spark):
    from mapreduceindex_spark.operators.text_analysis import lm_doc_scores

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),  # identical -> identical score
            (3, "word"),                    # single word -> no bigrams
            (4, "123 456"),                 # normalizes to empty words
            (5, ""),                        # empty
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
           for r in lm_doc_scores(docs).collect()}
    assert out[1] == out[2]
    assert out[1][0] == 5
    assert out[3] == (0, None)
    assert out[4] == (0, None)
    assert out[5] == (0, None)
    # every doc present exactly once
    assert set(out) == {1, 2, 3, 4, 5}


def test_media_dhash_near_dups_finds_identical_synth_images(spark):
    """ids congruent mod lcm(13,5,7)=455 render identical synth images,
    so the banded search must report them at hamming 0."""
    from mapreduceindex_spark.operators.multimodal import media_dhash_near_dups

    docs = spark.createDataFrame(
        [(7, "x"), (462, "y"), (1000, "z")], ["doc_id", "text"]
    )
    rows = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in media_dhash_near_dups(docs).collect()}
    assert rows.get((7, 462)) == 0


def test_bloom_prefilter_no_false_negatives(spark):
    """One-sided error: every true semi-join member must pass the Bloom,
    so n_pass_bloom >= n_true_semi in every group."""
    from mapreduceindex_spark.operators.sketches import bloom_prefilter_stats
    from mapreduceindex_spark.session import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    for r in bloom_prefilter_stats(ev).collect():
        assert r["n_pass_bloom"] >= r["n_true_semi"], r


def test_streaming_range_join_equals_batch(spark):
    """The watermarked stream-stream interval join must produce exactly
    the batch bucketized range join's result on the bounded fixture."""
    from mapreduceindex_spark.operators.events import range_join_error_context
    from mapreduceindex_spark.session import load_table
    from mapreduceindex_spark.streaming.pipelines import streaming_range_join
    from tests.conftest import SF_SMALL

    batch = sorted(
        tuple(r)
        for r in range_join_error_context(
            load_table(spark, SF_SMALL, "events")
        ).collect()
    )
    stream = sorted(
        tuple(r) for r in streaming_range_join(spark, SF_SMALL).collect()
    )
    assert stream == batch


def test_streaming_static_enrich_state_is_group_bounded(spark):
    """The stream-static join must add NO stateful join operator (the
    static side broadcasts into each micro-batch) and the aggregation's
    state rows must equal the group cardinality — state bounded by
    (event_type × segment), never by stream length. Mirrors the
    range-join eviction assertions for the remaining join kind."""
    import uuid as _uuid

    from mapreduceindex_spark.session import load_table
    from mapreduceindex_spark.streaming.pipelines import _stream_events
    from tests.conftest import SF_SMALL

    ev = _stream_events(spark, SF_SMALL)
    dim = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("event_type", "segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = "s" + _uuid.uuid4().hex[:12]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        progress = q.lastProgress
    finally:
        q.stop()
    n_groups = spark.table(name).count()
    assert n_groups > 0
    state_ops = progress["stateOperators"]
    assert len(state_ops) == 1, state_ops  # agg only — no join state
    assert state_ops[0]["operatorName"] == "stateStoreSave", state_ops
    assert state_ops[0]["numRowsTotal"] == n_groups, state_ops


def test_streaming_lsh_dedup_incremental_across_batches(spark):
    """The streaming LSH index must find near-dup pairs whose two members
    arrive in DIFFERENT micro-batches (the bucket state doing its job),
    and the full run must equal the batch ``minhash_lsh_pairs`` result.
    The corpus is split into 4 single-doc-group files streamed one file
    per trigger, so ~every pair crosses a batch boundary."""
    import shutil
    import tempfile

    from mapreduceindex_spark.operators.dedup import minhash_lsh_pairs
    from mapreduceindex_spark.session import load_table
    from mapreduceindex_spark.streaming.pipelines import (
        streaming_lsh_dedup_pairs,
    )
    from tests.conftest import SF_SMALL

    import glob

    docs = load_table(spark, SF_SMALL, "documents")
    tmp = tempfile.mkdtemp(prefix="lsh_stream_split_")
    try:
        # 8 single-slice parquet files, round-robin by doc_id; streamed
        # one file per trigger below, so the corpus arrives in 8
        # micro-batches and near-dup members land in different batches
        for i in range(8):
            (
                docs.filter(F.col("doc_id") % 8 == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{tmp}/part{i}")
            )
            (pf,) = glob.glob(f"{tmp}/part{i}/part-*.parquet")
            shutil.move(pf, f"{tmp}/documents_{i}.parquet")
            shutil.rmtree(f"{tmp}/part{i}")
        got = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in streaming_lsh_dedup_pairs(
                spark,
                SF_SMALL,
                source_dir=tmp,
                source_glob="documents_*.parquet",
                max_files_per_trigger=1,
            ).collect()
        )
        want = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs).collect()
        )
        assert got == want
        assert len(got) > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_asof_enrich_is_stateless(spark):
    """The stream-static as-of must run with ZERO state stores: the
    static side is a broadcast per-user sorted history array and the
    lookup is per-row expression work, so nothing accumulates across
    micro-batches (the design claim in its docstring). Also pins
    result parity with the batch as-of twin."""
    import uuid as _uuid

    from mapreduceindex_spark.operators.events import asof_error_purchase
    from mapreduceindex_spark.session import load_table
    from mapreduceindex_spark.streaming import pipelines as P
    from tests.conftest import SF_SMALL

    ev = P._stream_events(spark, SF_SMALL)
    events = load_table(spark, SF_SMALL, "events")
    # the PRODUCTION plan construction — not a copy that could drift
    enriched = P.asof_enrich_frame(ev, events)
    name = "s" + _uuid.uuid4().hex[:12]
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        progress = q.lastProgress
    finally:
        q.stop()
    assert progress["stateOperators"] == [], progress["stateOperators"]
    got = sorted(
        (r["event_id"], r["purchase_id"])
        for r in spark.table(name).collect()
    )
    want = sorted(
        (r["event_id"], r["purchase_id"])
        for r in asof_error_purchase(events).collect()
    )
    assert got == want


def test_streaming_hot_tokens_state_is_vocabulary_bounded(spark):
    """Grow the document stream 10× (ten copies of the same corpus file,
    streamed across five micro-batches) and assert the running-count
    state stays exactly at the VOCABULARY size of one copy — clones add
    counter increments, never counter rows. This is the state-vs-input
    distinction ``streaming_hot_tokens`` claims (VERDICT r04 #8): a
    counter per distinct word (Heaps' law), not per stream element."""
    import shutil
    import tempfile
    import uuid as _uuid

    from mapreduceindex_spark.functions.text import token_rows
    from mapreduceindex_spark.session import load_table
    from tests.conftest import SF_SMALL

    vocab = (
        token_rows(load_table(spark, SF_SMALL, "documents"))
        .filter(F.length("word") > 0)
        .select("word")
        .distinct()
        .count()
    )
    tmp = tempfile.mkdtemp(prefix="hot_tokens_10x_")
    try:
        for i in range(10):
            shutil.copy(
                f"{SF_SMALL}/documents.parquet", f"{tmp}/docs_{i}.parquet"
            )
        schema = spark.read.parquet(f"{SF_SMALL}/documents.parquet").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(tmp)
        )
        counts = (
            token_rows(stream)
            .filter(F.length("word") > 0)
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        name = "s" + _uuid.uuid4().hex[:12]
        q = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            progress = q.lastProgress
        finally:
            q.stop()
        state_ops = progress["stateOperators"]
        assert len(state_ops) == 1, state_ops
        assert state_ops[0]["numRowsTotal"] == vocab, (
            state_ops,
            vocab,
        )
        # and the counts really did absorb all ten copies
        top = spark.table(name).agg(F.max("n")).collect()[0][0]
        assert top % 10 == 0, top
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sentence_chunks_budget_crossing(spark):
    """Whole sentences assigned to budget-crossing chunks: with budget=5
    and sentences of 3 words each, cum-before per sentence is 0,3,6,9 ->
    chunks 0,0,1,1; a punctuation-only fragment contributes nothing."""
    from mapreduceindex_spark.operators.corpus import sentence_chunks

    docs = spark.createDataFrame(
        [
            (1, "one two three. four five six! seven eight nine? ten eleven twelve."),
            (2, "just one sentence here"),
            (3, "!!! ..."),
        ],
        ["doc_id", "text"],
    )
    out = {(r["doc_id"], r["chunk_id"]): (r["n_sentences"], r["n_tokens"])
           for r in sentence_chunks(docs, budget=5).collect()}
    assert out == {
        (1, 0): (2, 6),   # sentences at cum 0 and 3
        (1, 1): (2, 6),   # sentences at cum 6 and 9
        (2, 0): (1, 4),
    }


def test_media_dhash_near_dups_rejects_band_breaking_threshold(spark):
    """8 bands of 8 bits are a lossless pigeonhole cover only for
    max_hamming <= 7; beyond that the candidate set is silently
    incomplete, so the operator must refuse (same guard as
    simhash_near_dups)."""
    import pytest

    from mapreduceindex_spark.operators.multimodal import media_dhash_near_dups

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="pigeonhole"):
        media_dhash_near_dups(docs, max_hamming=8)
    # boundary value stays accepted
    media_dhash_near_dups(docs, max_hamming=7)


_DELETE_DOCS = [
    (1, "alpha beta"),
    (2, "beta gamma shared"),
    (3, "gamma solo"),
    (4, "alpha beta gamma"),
    (5, "shared"),
    (10, "shared beta"),
    (33, "alpha shared"),
]


@pytest.mark.parametrize(
    "ids, id_type, kwargs",
    [
        ([3, 3, 99], "BIGINT", {}),  # 3 twice; 99 is absent
        ([3, 3, 99], "BIGINT", {"broadcast_cap": 0}),  # ignored keyword
        ([2, 4], "INT", {}),
        ([], "BIGINT", {}),
        ([d for d, _ in _DELETE_DOCS], "BIGINT", {}),
        ([5], "BIGINT", {}),  # 'shared' keeps 2, 10, 33: numeric order
    ],
    ids=[
        "duplicate_and_absent",
        "broadcast_cap_0",
        "int_ids",
        "empty_delete_set",
        "every_doc",
        "numeric_order",
    ],
)
def test_index_delete_equals_full_rebuild(spark, ids, id_type, kwargs):
    """delete(index(A), D) ≡ index(A − D), including dropping words whose
    posting list empties, no-op on ids absent from the index or repeated
    in D, and posting lists kept in numeric (not string) order."""
    from mapreduceindex_spark.operators.inverted_index import (
        index_delete,
        inverted_index,
    )

    docs = spark.createDataFrame(_DELETE_DOCS, "doc_id BIGINT, text STRING")
    gone = spark.createDataFrame([(i,) for i in ids], f"doc_id {id_type}")
    index = inverted_index(docs, ordered=False)
    edited_df = index_delete(index, gone, **kwargs)
    rebuilt_df = inverted_index(
        docs.filter(~F.col("doc_id").isin(ids)), ordered=False
    )

    def rows(df):
        return sorted(
            (r["word"], r["df"], tuple(r["doc_ids"])) for r in df.collect()
        )

    edited = rows(edited_df)
    assert edited == rows(rebuilt_df)
    assert [(f.name, f.dataType) for f in edited_df.schema.fields] == [
        (f.name, f.dataType) for f in rebuilt_df.schema.fields
    ]
    postings = {w: doc_ids for w, _, doc_ids in edited}
    if not ids:
        assert edited == rows(index)
    if 3 in ids:
        # 'solo' existed only in doc 3 -> word dropped entirely
        assert "solo" not in postings
    if len(ids) == len(_DELETE_DOCS):
        assert edited == []
    if ids == [5]:
        assert postings["shared"] == (2, 10, 33)


def test_index_delete_planning_runs_no_job_and_caches_nothing(spark):
    """Building the delete plan starts no Spark job (no count probe) and
    registers no tracked cache: the delete set is scanned once, when the
    returned plan runs."""
    import uuid

    from mapreduceindex_spark.functions import caching
    from mapreduceindex_spark.operators.inverted_index import (
        index_delete,
        inverted_index,
    )

    docs = _docs(spark, [(i, f"w{i} common") for i in range(1, 8)])
    gone = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id BIGINT")
    idx = inverted_index(docs, ordered=False)
    sc = spark.sparkContext
    group = f"index_delete_plan_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "index_delete planning")
    try:
        index_delete(idx, gone)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "index_delete" not in caching._LIVE


def test_asof_bucket_sizing_and_hot_user_guard(spark):
    """n_buckets derives from a data-volume probe (floor 64, one bucket
    never expected past target_bucket_rows), results are invariant to the
    bucket count, and an unsplittable hot user past max_bucket_rows
    raises with the remedy named instead of OOMing an executor."""
    import pytest as _pytest

    from mapreduceindex_spark.operators.events import asof_error_purchase

    rows = []
    eid = 0
    for u in range(6):
        for j in range(5):
            rows.append((eid, u, "purchase", 1_700_000_000 + j * 100))
            eid += 1
            rows.append((eid, u, "error", 1_700_000_000 + j * 100 + 50))
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_sec long"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_sec").cast("timestamp").alias("ts"),
    )
    auto = sorted(map(tuple, asof_error_purchase(events).collect()))
    pinned = sorted(
        map(tuple, asof_error_purchase(events, n_buckets=3).collect())
    )
    assert auto == pinned and len(auto) == 30
    # tiny target -> more buckets than the floor, same answer
    scaled = sorted(
        map(tuple, asof_error_purchase(events, target_bucket_rows=1).collect())
    )
    assert scaled == auto
    with _pytest.raises(ValueError, match="time-range secondary"):
        asof_error_purchase(events, max_bucket_rows=3)


def test_tracked_caches_bounded_across_invocations(spark):
    """dup_spans / media_dhash_near_dups persist a frame the RETURNED
    plan consumes, which previously leaked one cache per invocation in a
    long-lived session; the tracked-cache registry bounds live caches to
    the most recent invocation and release() frees even that."""
    from mapreduceindex_spark.functions import caching
    from mapreduceindex_spark.operators.dedup import dup_spans

    text = "one two three four five six seven eight nine ten"
    docs = _docs(spark, [(i, text) for i in range(1, 4)])
    for _ in range(3):
        dup_spans(docs, n=8, min_docs=2).collect()
    assert len(caching._LIVE.get("dup_spans", [])) <= 1
    # keyed isolation: building ANOTHER operator's plan must not evict
    # dup_spans' pending cache (a global single-slot registry would)
    plan = dup_spans(docs, n=8, min_docs=2)  # not yet materialized
    from mapreduceindex_spark.operators.multimodal import (
        media_dhash_near_dups,
    )

    media_dhash_near_dups(docs)  # builds + tracks under its own key
    assert len(caching._LIVE.get("dup_spans", [])) == 1
    plan.collect()  # still backed by its cache
    caching.release()
    assert not caching._LIVE
    caching.release()  # idempotent


def test_index_delete_plan_is_distributed(spark):
    """The delete set must not be embedded as a literal expression tree
    (r03 verdict: a collected literal array blows codegen limits long
    before memory): the plan is a left-anti join, with no cartesian
    product and no literal array of ids — with or without the ignored
    ``broadcast_cap`` keyword."""
    from mapreduceindex_spark.operators.inverted_index import (
        index_delete,
        inverted_index,
    )

    docs = _docs(spark, [(i, f"w{i} common") for i in range(1, 8)])
    gone = spark.createDataFrame([(i,) for i in range(1, 5)], ["doc_id"])
    idx = inverted_index(docs, ordered=False)

    for kwargs in ({}, {"broadcast_cap": 0}):
        plan = (
            index_delete(idx, gone, **kwargs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        # the ids 1..4 must not appear as an [1, 2, 3, 4]-style literal
        assert "[1, 2, 3, 4]" not in plan


def test_phrase_search_consecutive_and_normalized(spark):
    """Phrase match requires adjacency (search_docs 'all' does not),
    normalizes like the flagship ('Order, FAST!' → 'order fast'), counts
    every occurrence, and rejects empty phrases."""
    import pytest

    from mapreduceindex_spark.operators.inverted_index import phrase_search

    docs = _docs(
        spark,
        [
            (1, "ship the order fast today"),
            (2, "fast order arrived"),       # both words, wrong order
            (3, "Order, FAST! order fast"),  # normalization + 2 hits
            (4, "order it fast"),            # not adjacent
        ],
    )
    got = {
        r["doc_id"]: r["n_hits"]
        for r in phrase_search(docs, "Order FAST").collect()
    }
    assert got == {1: 1, 3: 2}
    with pytest.raises(ValueError, match="no normalized words"):
        phrase_search(docs, "123 456")


def test_reindex_docs_equals_full_rebuild(spark):
    """reindex(index(A), D') ≡ index((A − ids(D')) ∪ D'): updated docs
    replace their old postings entirely, including words they no longer
    contain and docs whose new text is empty."""
    from mapreduceindex_spark.operators.inverted_index import (
        inverted_index,
        reindex_docs,
    )

    old = _docs(
        spark,
        [
            (1, "alpha beta"),
            (2, "beta gamma"),
            (3, "delta solo"),
        ],
    )
    changed = _docs(
        spark,
        [
            (2, "epsilon beta"),  # gamma vanishes, epsilon appears
            (3, ""),              # doc emptied: all its words vanish
        ],
    )
    got = sorted(
        (r["word"], r["df"], tuple(r["doc_ids"]))
        for r in reindex_docs(inverted_index(old, ordered=False), changed).collect()
    )
    rebuilt_src = _docs(
        spark,
        [(1, "alpha beta"), (2, "epsilon beta"), (3, "")],
    )
    want = sorted(
        (r["word"], r["df"], tuple(r["doc_ids"]))
        for r in inverted_index(rebuilt_src, ordered=False).collect()
    )
    assert got == want
    words_left = {w for w, _, _ in got}
    assert "gamma" not in words_left and "solo" not in words_left
    assert "epsilon" in words_left


def test_bm25_ranking_semantics(spark):
    """Known-ranking corpus: a document matching BOTH query terms beats
    single-term docs; among single-term docs the RARE term outweighs the
    common one (idf); tf saturates (10 repeats ≪ 10× the score); docs
    with no query term are absent; empty query raises."""
    import pytest as _pytest

    from mapreduceindex_spark.operators.inverted_index import bm25_search

    filler = "lorem ipsum dolor sit amet"
    docs = _docs(
        spark,
        [
            (1, f"zebra quark {filler}"),          # both terms
            (2, f"zebra {filler}"),                # common term only
            (3, f"quark {filler}"),                # rare term only
            (4, f"zebra zebra zebra {filler}"),    # common, high tf
            (5, f"zebra {filler}"),                # common term only
            (6, filler),                           # neither
        ],
    )
    out = bm25_search(docs, "zebra quark").collect()
    ranked = [r["doc_id"] for r in out]
    assert 6 not in ranked
    assert ranked[0] == 1                      # both terms win
    scores = {r["doc_id"]: r["score"] for r in out}
    assert scores[3] > scores[2]               # rare term > common term
    assert scores[4] > scores[2]               # higher tf helps...
    assert scores[4] < 3 * scores[2]           # ...but saturates
    with _pytest.raises(ValueError, match="no normalized words"):
        bm25_search(docs, "42 !!!")


def test_events_resample_gap_fill(spark):
    """Zero buckets are explicit between each type's own bounds; counts
    conserve; a type's grid does not extend to other types' ranges."""
    from mapreduceindex_spark.operators.events import events_resample

    rows = [
        (1, 1, "click", 1_700_000_000),
        (2, 1, "click", 1_700_000_100),      # same bucket as #1
        (3, 1, "click", 1_700_007_200),      # 2 buckets later -> 1 gap
        (4, 2, "error", 1_700_003_600),      # different type, own range
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, s long"
    ).select("event_id", "user_id", "event_type",
             F.col("s").cast("timestamp").alias("ts"))
    out = {(r["event_type"], r["bucket_start"]): r["n_events"]
           for r in events_resample(events, freq_sec=3600).collect()}
    assert out == {
        ("click", 1_700_000_000 // 3600 * 3600): 2,
        ("click", 1_700_003_600 // 3600 * 3600): 0,   # explicit gap zero
        ("click", 1_700_007_200 // 3600 * 3600): 1,
        ("error", 1_700_003_600 // 3600 * 3600): 1,   # single-bucket range
    }
