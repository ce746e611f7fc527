"""Corpus-management operators for training-data pipelines
(SURVEY.md §2 north-star extensions EXT1/EXT3 adjacency; no reference
file:line — the C reference has no corpus-management surface).

Deterministic content-hash splits, PII scrubbing, and corpus n-gram
statistics — the bookkeeping layer between raw documents and training
shards. Everything is pure Catalyst expressions (codegen'd, no Python)
with engine-portable arithmetic so each operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceindex_spark.functions.text import (
    stable_hash64,
    word_ngrams,
    word_rows,
    words,
)

#: Shared (Java regex ∩ RE2) PII patterns — identical text on both engines.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
)


def split_by_hash(
    documents: DataFrame,
    train_pct: int = 80,
    valid_pct: int = 10,
) -> DataFrame:
    """Deterministic train/valid/test assignment by content hash.

    Bucket = portable 60-bit hash of the text mod 100 — stable across
    runs, clusters, and engines, and *content*-keyed so byte-identical
    duplicates always land in the same split (no train/test leakage from
    exact dupes). Output: (doc_id, bucket, split).
    """
    bucket = (stable_hash64("text") % 100).alias("bucket")
    return documents.select("doc_id", bucket).select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < train_pct, "train")
        .when(F.col("bucket") < train_pct + valid_pct, "valid")
        .otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


def scrub_pii(documents: DataFrame) -> DataFrame:
    """Redact emails/URLs/phone-shaped substrings; count each redaction.

    One projection — patterns applied in declaration order (order matters:
    URL scrubbing would otherwise eat email hosts). Counts come from
    ``regexp_count`` on the *original* text so they are auditable
    independently of the rewrite.
    """
    scrubbed = F.col("text")
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.regexp_count("text", F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return documents.select(
        "doc_id", *counts, scrubbed.alias("scrubbed_text")
    ).orderBy("doc_id")


def ngram_counts(
    documents: DataFrame, n: int = 2, top_k: int = 100
) -> DataFrame:
    """Corpus-wide n-gram occurrence counts, deterministic top-k.

    Strict n-grams (docs shorter than ``n`` words contribute none), every
    occurrence counted — the vocabulary/statistics pass of a data
    pipeline. ``functions.text.word_ngrams`` keeps the whole plan
    codegen'd; one hash aggregate, (count DESC, ngram ASC) tie-break
    before the limit.
    """
    return (
        word_ngrams(word_rows(documents), n)
        .groupBy(F.col("ng").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(top_k)
    )


def training_corpus(
    documents: DataFrame,
    min_words: int = 5,
    train_pct: int = 80,
    valid_pct: int = 10,
) -> DataFrame:
    """End-to-end training-data preparation in one declarative plan:
    exact dedup (keep the lowest doc_id per byte-identical text) →
    quality gate (≥ ``min_words`` normalized words) → PII audit counts →
    deterministic content-hash train/valid/test split.

    The point of composing it as ONE DataFrame is that Catalyst fuses
    the stages: the md5 dedup shuffle is the only exchange — the word
    count, PII counts, and split bucket are all projections stacked on
    the dedup output, evaluated in a single codegen'd pass. A pipeline
    that materialized each stage would scan the corpus four times; this
    scans it once (plus the dedup aggregate's own pass).

    Output: (doc_id, split, n_words, n_pii), one row per surviving doc.
    """
    with_h = documents.select("doc_id", "text", F.md5("text").alias("_h"))
    firsts = with_h.groupBy("_h").agg(F.min("doc_id").alias("_keep"))
    kept = with_h.join(firsts, "_h").filter(F.col("doc_id") == F.col("_keep"))
    n_pii = sum(
        (F.regexp_count("text", F.lit(pat)) for _, pat, _ in PII_PATTERNS),
        F.lit(0),
    )
    bucket = stable_hash64("text") % 100
    return (
        kept.select(
            "doc_id",
            F.size(words(F.col("text"))).cast("long").alias("n_words"),
            n_pii.cast("long").alias("n_pii"),
            bucket.alias("_b"),
        )
        .filter(F.col("n_words") >= min_words)
        .select(
            "doc_id",
            F.when(F.col("_b") < train_pct, "train")
            .when(F.col("_b") < train_pct + valid_pct, "valid")
            .otherwise("test")
            .alias("split"),
            "n_words",
            "n_pii",
        )
        .orderBy("doc_id")
    )


def doc_chunks(documents: DataFrame, chunk_size: int = 50) -> DataFrame:
    """Fixed-size token chunking — the retrieval/embedding prep step that
    splits each document into consecutive ``chunk_size``-word windows
    (final chunk ragged; zero-word docs contribute none).

    Chunk assignment is a pure projection on the token position
    (``pos DIV chunk_size``), so the whole front end (split → posexplode →
    chunk id) stays in one codegen'd stage; the only exchange is the
    per-(doc, chunk) aggregate, whose key count is ~tokens/chunk_size —
    at 100 TB this shuffles bounded summary rows, never raw text.
    ``min_by``/``max_by`` pull the boundary words in the same aggregate
    (no second window pass over the token stream).

    Output: (doc_id, chunk_id, n_tokens, first_word, last_word).
    """
    return (
        word_rows(documents).select(
            "doc_id",
            F.expr(f"pos DIV {chunk_size}").cast("long").alias("chunk_id"),
            "pos",
            "w",
        )
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.min_by("w", "pos").alias("first_word"),
            F.max_by("w", "pos").alias("last_word"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def pack_sequences(documents: DataFrame, budget: int = 512) -> DataFrame:
    """Sequence packing — concatenate documents (per source, in doc_id
    order) into a token stream and cut it at ``budget``-token context
    boundaries, reporting which docs land in each packed sequence. A doc
    is assigned to the sequence where its first token falls, exactly how
    an LM training pipeline packs short documents into fixed-length
    contexts to avoid padding waste.

    The running offset is a window cumsum *partitioned by source* — no
    global single-partition window: each source's stream packs
    independently, which is also the semantically right boundary (you
    don't want a crawl doc bleeding into a books context). At 100 TB the
    per-source window parallelizes across sources; within a giant source
    you'd sub-shard first (``split_by_hash``) and pack per shard.

    Output: (source, seq_id, n_docs, n_tokens, first_doc, last_doc).
    """
    base = documents.select(
        "doc_id",
        "source",
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn(
            "_cum_before", F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
        )
        .select(
            "source",
            F.expr(f"_cum_before DIV {budget}").cast("long").alias("seq_id"),
            "doc_id",
            "n_tokens",
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "seq_id")
    )


def contamination_check(
    documents: DataFrame, n: int = 3, benchmark_mod: int = 97
) -> DataFrame:
    """Benchmark-contamination scan: per training doc, how many of its
    distinct word ``n``-gram shingles also occur in the held-out benchmark
    set (here: docs with ``doc_id % benchmark_mod == 0``, standing in for
    an eval suite loaded from a side table).

    The decontamination pass every serious training pipeline runs before
    a corpus ships. The benchmark shingle set is tiny relative to the
    corpus (~1/mod of docs), so it broadcasts: the corpus side is scanned
    once, shuffled once on doc_id for the final per-doc aggregate, and
    the shingle→benchmark probe is a broadcast hash join — no shuffle of
    the (much larger) corpus shingle stream by shingle key. At 100 TB
    the benchmark side stays a few MB (real eval suites are small), so
    the broadcast holds at scale.

    Output: (doc_id, n_shingles, n_overlap) for non-benchmark docs;
    ``n_overlap > 0`` flags a doc for removal/review.
    """
    from mapreduceindex_spark.operators.dedup import doc_shingles

    # row-wise codegen'd shingler (posexplode + lead) — the array-HOF
    # form is interpreted and ~8× slower at sf0.1 (measured; see
    # doc_shingles' docstring)
    sh = doc_shingles(documents, n)
    bench = (
        sh.filter(F.col("doc_id") % benchmark_mod == 0)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        sh.filter(F.col("doc_id") % benchmark_mod != 0)
        .join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_overlap"),
        )
        .orderBy("doc_id")
    )


def repetition_score(documents: DataFrame, n: int = 2) -> DataFrame:
    """Within-document repetition: fraction of word ``n``-grams that are
    repeats of an earlier n-gram in the same doc (the Gopher-style
    "duplicate n-gram fraction" quality signal — high values mean boiler-
    plate or degenerate text).

    Strict n-grams (docs with < ``n`` words have none and report 0).
    The ratio is computed in integer space — ``(total−distinct)·10⁴``
    divided with explicit round-half-away-from-zero — so both engines
    produce bit-identical 4-dp values (see ``functions.exact.avg4`` for
    the rationale). Plan: one explode→lead pass (codegen'd), one per-doc
    aggregate, one broadcast join-back to restore zero-ngram docs.
    """
    per_doc = (
        word_ngrams(word_rows(documents), n)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.countDistinct("ng").alias("n_distinct"),
        )
    )
    dup4 = F.expr(
        "CAST(((n_ngrams - n_distinct) * 10000 * 2 + n_ngrams) "
        "DIV (n_ngrams * 2) AS DOUBLE) / 10000.0"
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        )
        .withColumn(
            "dup_pct",
            F.when(F.col("n_ngrams") > 0, dup4).otherwise(F.lit(0.0)),
        )
        .orderBy("doc_id")
    )


def domain_mixture(documents: DataFrame) -> DataFrame:
    """Per-source corpus composition: doc/token counts and each source's
    token share — the numbers a pipeline turns into domain sampling
    weights when mixing sources for a training run.

    Token share is integer-scaled (ppm, round-half-away-from-zero) so the
    6-dp double is engine-exact. One aggregate, one shuffle on ``source``
    (source cardinality is tiny — the agg is map-side partial first). The
    global total comes from an unpartitioned window over the *aggregated*
    relation — source-cardinality rows, not raw data — so the single-
    partition stage is O(#sources) regardless of corpus size.
    """
    agg = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words(F.col("text")))).cast("long").alias("n_tokens"),
    )
    total = Window.partitionBy()
    share6 = F.expr(
        "CAST((n_tokens * 1000000 * 2 + _total) DIV (_total * 2) AS DOUBLE)"
        " / 1000000.0"
    )
    return (
        agg.withColumn("_total", F.sum("n_tokens").over(total))
        .select("source", "n_docs", "n_tokens", share6.alias("token_share"))
        .orderBy("source")
    )


def stratified_sample(
    documents: DataFrame,
    pct_by_source: dict[str, int] | None = None,
    default_pct: int = 10,
) -> DataFrame:
    """Per-source deterministic sample: each stratum keeps its own
    content-hash rate — the mechanism behind domain re-weighting (e.g.
    upsample a high-quality source to 50%, keep the crawl at 10%).

    Same hash-bucket semantics as ``deterministic_sample`` (stable,
    engine-portable, monotone in pct), applied per stratum. Pure
    projection + filter — pushes to the scan, no shuffle at all.
    """
    pct_by_source = pct_by_source or {}
    rate = F.lit(default_pct)
    for src, pct in sorted(pct_by_source.items()):
        rate = F.when(F.col("source") == src, F.lit(pct)).otherwise(rate)
    return (
        documents.select(
            "doc_id",
            "source",
            (stable_hash64("text") % 100).alias("_b"),
            rate.alias("_rate"),
        )
        .filter(F.col("_b") < F.col("_rate"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def deterministic_sample(
    documents: DataFrame, pct: int = 10, by: str = "text"
) -> DataFrame:
    """Deterministic corpus sample: keep rows whose portable content hash
    lands under ``pct`` of the 100-bucket space.

    Unlike ``DataFrame.sample`` (seeded per-partition RNG — resample
    changes with partitioning), hash sampling is a pure row function:
    stable across runs, engines, partitionings, AND monotone in ``pct``
    (a 10% sample is a subset of the 20% sample — the property that lets
    a pipeline scale its subsample up without re-drawing). ``by="text"``
    keys on content so exact duplicates sample together;
    ``by="doc_id"`` keys on identity.
    """
    key = (
        stable_hash64("text")
        if by == "text"
        else stable_hash64(F.col("doc_id").cast("string"))
    )
    return (
        documents.select("doc_id", "text", (key % 100).alias("_b"))
        .filter(F.col("_b") < pct)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )


def boilerplate_score(
    documents: DataFrame, n: int = 8, min_docs: int = 2
) -> DataFrame:
    """Cross-document boilerplate fraction: per doc, the share of its
    word ``n``-gram positions whose n-gram also appears in ≥ ``min_docs``
    distinct documents — the corpus-level complement of
    ``repetition_score`` (within-doc) and ``contamination_check``
    (external benchmark): headers, footers, license blocks, and
    navigation chrome score high and get filtered or masked before
    training.

    Exactness: the ratio is integer-space 4-dp (same
    round-half-away-from-zero as ``repetition_score``); n-grams travel
    as the portable 60-bit hash, which the oracle recomputes, so both
    engines count identical keys. Plan: one explode→lead pass, one
    distinct + hash-agg for document frequency, one join back on the
    8-byte hash, one per-doc aggregate — no strings in any exchange.
    """
    from pyspark.storagelevel import StorageLevel

    from mapreduceindex_spark.functions import caching

    caching.release("boilerplate_score")
    pos_df = caching.track(
        word_ngrams(word_rows(documents), n)
        .select("doc_id", stable_hash64("ng").alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK),
        "boilerplate_score",
    )
    hot = (
        pos_df.dropDuplicates(["doc_id", "h"])
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("h", F.lit(1).alias("_hot"))
    )
    per_doc = (
        pos_df.join(hot, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce("_hot", F.lit(0))).alias("n_hot"),
        )
    )
    frac4 = F.expr(
        "CAST((n_hot * 10000 * 2 + n_ngrams) DIV (n_ngrams * 2) AS DOUBLE)"
        " / 10000.0"
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_hot", F.lit(0)).cast("long").alias("n_hot"),
        )
        .withColumn(
            "boilerplate_pct",
            F.when(F.col("n_ngrams") > 0, frac4).otherwise(F.lit(0.0)),
        )
        .orderBy("doc_id")
    )


def sentence_chunks(documents: DataFrame, budget: int = 40) -> DataFrame:
    """Sentence-aware chunking — ``doc_chunks``' RAG-prep sibling: split
    each document at sentence boundaries (``[.!?]+`` + whitespace), then
    assign whole sentences to ``budget``-token chunks so no chunk ever
    cuts mid-sentence. A sentence belongs to the chunk where its first
    word falls in the document's running token stream (the same
    budget-crossing rule as ``pack_sequences``) — deterministic, and a
    pure cumsum, where the greedy "close the chunk early" variant would
    be an inherently sequential scan.

    Token counts are normalized non-empty words (``functions.text.words``
    semantics); sentences with no such words vanish, so punctuation-only
    fragments and trailing-delimiter empties never produce chunks.

    Plan: split → posexplode → per-sentence word count (one codegen'd
    stage), one window cumsum per doc, one per-(doc, chunk) aggregate.
    Output: (doc_id, chunk_id, n_sentences, n_tokens).

    Note: the fixture documents carry no sentence punctuation, so the
    driver-oracle row only exercises the single-sentence path; the
    multi-sentence budget-crossing behavior is pinned by
    ``tests/test_edge_cases.py::test_sentence_chunks_budget_crossing``.
    """
    sents = documents.select(
        "doc_id",
        F.posexplode(F.split("text", r"[.!?]+\s+")).alias("idx", "sent"),
    )
    sized = sents.select(
        "doc_id", "idx", F.size(words(F.col("sent"))).alias("nw")
    ).filter(F.col("nw") > 0)
    win = (
        Window.partitionBy("doc_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = sized.select(
        "doc_id",
        "nw",
        F.coalesce(F.sum("nw").over(win), F.lit(0)).alias("_cum"),
    ).select(
        "doc_id", "nw", F.expr(f"_cum DIV {budget}").alias("chunk_id")
    )
    return (
        assigned.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum("nw").cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document novelty: the fraction of its distinct word
    ``n``-gram shingles that appear in NO other document (corpus
    df = 1). The inverse lens of ``boilerplate_score`` — that flags docs
    made of cross-corpus chrome; this credits docs contributing content
    nothing else has, the "keep" signal when a dedup pass must choose
    survivors or a mixer rewards diversity.

    Rides the dedup family's 60-bit hash front end
    (``dedup._shingle_hashes``): shingles shuffle as 16-byte
    (doc_id, hash) rows, df is one hash-agg over them, and the join back
    is on the 8-byte hash — no strings in any exchange (the same
    collision tolerance documented there). Docs with zero shingles
    (no normalized words) zero-fill through the left join. The ratio is
    one division of exact BIGINT counts, 6-dp rounded.
    """
    from mapreduceindex_spark.operators.dedup import _shingle_hashes

    from pyspark.storagelevel import StorageLevel

    from mapreduceindex_spark.functions import caching

    # both the df aggregate and the join-back scan this frame; persist so
    # the explode+window front end runs once (bounded cache: 16-byte
    # (doc_id, hash) rows, the same budget the jaccard family carries)
    caching.release("ngram_novelty")
    sh = caching.track(
        _shingle_hashes(documents, n).persist(StorageLevel.MEMORY_AND_DISK),
        "ngram_novelty",
    )
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count(F.when(F.col("df") == 1, 1))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_novel").cast("double") / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("novelty_ratio"),
        )
        .orderBy("doc_id")
    )


def bigram_lift(documents: DataFrame, top_k: int = 50) -> DataFrame:
    """Collocation strength for the most frequent bigrams: observed
    bigram count vs what independent unigrams would predict,
    ``lift = n_ab · N_words / (n_a · n_b)`` — the association measure
    behind phrase mining / tokenizer-merge candidates (PMI is its log;
    emitting the exact rational keeps the oracle comparison integer-born
    instead of cross-engine ``ln``).

    Plan: one token pass feeds both the unigram counts and the
    posexplode+lead bigram counts; the two unigram joins broadcast
    (vocabulary ≪ corpus at any scale — and at 100 TB a frequency-capped
    vocabulary dim is the standard practice). Top-k by (n_ab DESC,
    bigram ASC) before the joins, so only ``top_k`` rows reach them.
    """
    toks = word_rows(documents)
    unigrams = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_uni"))
    total = toks.select(F.count(F.lit(1)).alias("n_total"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.select(
            "nw",
            "pos",
            F.col("w").alias("w_a"),
            F.lead("w", 1).over(win).alias("w_b"),
        )
        .filter(F.col("pos") <= F.col("nw") - 2)
        .groupBy("w_a", "w_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .orderBy(F.col("n_ab").desc(), F.col("w_a").asc(), F.col("w_b").asc())
        .limit(top_k)
    )
    return (
        bigrams.join(
            F.broadcast(unigrams.withColumnRenamed("w", "w_a")), "w_a"
        )
        .withColumnRenamed("n_uni", "n_a")
        .join(F.broadcast(unigrams.withColumnRenamed("w", "w_b")), "w_b")
        .withColumnRenamed("n_uni", "n_b")
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(" ", "w_a", "w_b").alias("bigram"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                (F.col("n_ab") * F.col("n_total")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), F.col("bigram").asc())
    )


def per_source_topk_sample(documents: DataFrame, k: int = 10) -> DataFrame:
    """Deterministic fixed-size sample: exactly ``min(k, |source|)`` docs
    per source, chosen by content-hash order — the fixed-BUDGET
    companion to ``stratified_sample`` (fixed rate) and
    ``deterministic_sample`` (global rate). Inspection sets, eval
    slices, and per-domain probes all want "k of each", stable across
    reruns and cluster sizes.

    Hash-order ranking (md5 of content, doc_id tiebreak) is a uniform
    draw independent of ingestion order; one window per source, k rows
    kept before anything else happens, so downstream cost is k·|sources|
    regardless of corpus size.
    """
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("text")).asc(), F.col("doc_id").asc()
    )
    return (
        documents.select(
            "doc_id",
            "source",
            F.md5("text").alias("content_hash"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= k)
        .orderBy("source", "rk")
    )


def dedup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Redundancy profile per source: docs, distinct contents, and the
    duplicate rate — the first column of any crawl-slice health report
    (a source whose dup_rate climbs is re-crawling itself; its marginal
    token is worth less to the mix).

    One hash aggregate on (source, md5) then a per-source rollup; only
    32-char hashes shuffle. The rate is one division of exact BIGINTs.
    """
    per_content = (
        documents.select("source", F.md5("text").alias("_h"))
        .groupBy("source", "_h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per_content.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dups"),
            F.round(
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


def cross_source_overlap(documents: DataFrame, n: int = 8) -> DataFrame:
    """Passage overlap between source pairs: for each (source_a <
    source_b), how many distinct word ``n``-grams appear in BOTH — the
    provenance matrix that finds mirror sites and syndicated passages
    before they skew mixture weights (within-source duplication is
    ``dedup_rate_by_source``'s job; this is specifically cross-slice,
    and n-gram-level so partial republication registers even when whole
    documents are never byte-identical).

    Distinct (source, ngram-hash) pairs self-join on the 8-byte hash —
    inputs are deduplicated per source first, so an n-gram shared by k
    sources contributes C(k,2) pair rows regardless of how often each
    source repeats it. The frequency profile of long n-grams makes this
    sparse: only genuinely shared passages survive the distinct+join.
    Hashes only in every exchange.
    """
    sh = (
        word_ngrams(word_rows(documents, "source"), n)
        .select("source", stable_hash64("ng").alias("_h"))
        .dropDuplicates(["source", "_h"])
    )
    a = sh.select(F.col("source").alias("source_a"), "_h")
    b = sh.select(F.col("source").alias("source_b"), "_h")
    return (
        a.join(b, "_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams"))
        .orderBy("source_a", "source_b")
    )


def shuffle_corpus(
    documents: DataFrame, seed: int = 42, n_shards: int = 16
) -> DataFrame:
    """Deterministic seeded global shuffle into training shards: every
    document gets a pseudo-random shard and a stable position within it —
    the "shuffle once, stream shards in order" layout every large-scale
    training run wants (epoch order must be reproducible from the seed
    alone, never from partition layout or file enumeration order).

    The permutation key is ``stable_hash64(seed || ':' || doc_id)`` —
    engine-portable (md5-based), so the DuckDB oracle replays the exact
    permutation. Shard = key % n_shards; position = rank of the key
    within the shard (doc_id tie-break, though 60-bit collisions are
    ~never). Scale: one hash-partitioned window per shard — the sort is
    per-shard, NOT a global total order, so at 100 TB each shard sorts
    ~1/n_shards of the keys independently and no single range exchange
    sees the whole corpus; n_shards scales with the cluster.
    """
    key = stable_hash64(
        F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string"))
    )
    ranked = documents.select(
        "doc_id", key.alias("_k"), (key % n_shards).cast("long").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("_k", "doc_id")
    # no trailing global orderBy: it would add exactly the whole-corpus
    # range exchange this design exists to avoid, and (shard,
    # pos_in_shard) fully determine the order for any consumer that
    # wants one
    return ranked.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


def label_quality_profile(
    documents: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """Cross-modal corpus health: per embedding label (= cluster/topic id
    in the fixture), the lexical quality profile of the matching
    documents — mean quality score, mean token count, document count.
    The join every curation loop runs before re-weighting a mixture:
    "which semantic clusters are full of low-quality text?".

    One co-partitioned hash join on the id (both sides shuffle on the
    same key — at 100 TB this is the canonical bucketed-join candidate),
    then a k-group aggregate. Quality terms reuse
    ``text_analysis.quality_score`` exactly, and the means use the
    integer-quantized tie-free forms, so the oracle is exact.
    """
    from mapreduceindex_spark.functions.exact import mean_of_micro, micro
    from mapreduceindex_spark.operators.text_analysis import quality_score

    q = quality_score(documents).select("doc_id", "quality")
    nw = documents.select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("n_words")
    )
    lab = embeddings.select(
        F.col("vec_id").alias("doc_id"), F.col("label").cast("long").alias("label")
    )
    return (
        q.join(nw, "doc_id")
        .join(lab, "doc_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(micro(F.col("quality"))).alias("_qs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
        )
        .select(
            "label",
            "n_docs",
            mean_of_micro("_qs", "n_docs").alias("mean_quality"),
            "n_tokens",
        )
        .orderBy("label")
    )


def curation_funnel(
    documents: DataFrame,
    quality_min: float = 0.5,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The whole curation pipeline as one readout: how many documents
    survive each gate on the way to a training corpus — raw count,
    distinct contents after exact dedup, near-dup cluster survivors
    (``canonical_docs``: one best-quality keeper per cluster), and
    keepers that also clear the ``quality_min`` bar. One row, four
    BIGINT counts — the number every curation run reports first.

    Pure composition of already-oracle-verified operators
    (``dedup.exact_dedup``, ``dedup.canonical_docs``,
    ``text_analysis.quality_score``); the funnel adds only one
    single-row aggregate over the canonical set, so its cost IS the
    near-dup pipeline's cost and its 100 TB story is theirs
    (banded candidates, never all-pairs). The quality gate compares
    the 4-dp-exact score, so the count is engine-deterministic.
    """
    from mapreduceindex_spark.operators.dedup import (
        _pair_front_end,
        canonical_docs,
    )

    # the family's memoized front end (see dedup._pair_front_end): its
    # clone census IS exact dedup — (distinct contents, documents),
    # already collected — so the funnel never re-scans the corpus for
    # the first two gates
    n_exact_unique, n_raw = _pair_front_end(documents, n).stats
    canon = canonical_docs(documents, n=n, threshold=threshold).agg(
        F.count(F.lit(1)).cast("long").alias("n_canonical"),
        F.sum(
            F.when(F.col("best_quality") >= F.lit(quality_min), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_quality_pass"),
    )
    return canon.select(
        F.lit(n_raw).cast("long").alias("n_raw"),
        F.lit(n_exact_unique).cast("long").alias("n_exact_unique"),
        "n_canonical",
        "n_quality_pass",
    )


def quality_reliability_curve(
    documents: DataFrame, n_bins: int = 10, clean_max_pct: float = 0.2
) -> DataFrame:
    """Calibration curve between the composite ``quality_score`` and an
    INDEPENDENT cleanliness signal (``boilerplate_score``): documents
    rank into ``n_bins`` quality deciles, and each decile reports how
    many of its members are boilerplate-clean (``boilerplate_pct ≤
    clean_max_pct``). A well-calibrated quality score shows clean_ppm
    rising monotonically with the decile; a flat curve means the score
    is not separating what the boilerplate signal measures — the
    reliability-diagram check run before gating a corpus on either
    signal alone.

    Decile assignment is EXACT standard NTILE over the (quality ASC,
    doc_id ASC) total order, but computed WITHOUT a global sort: the
    4-dp quality values form a ≤ 10001-row histogram, whose cumulative
    counts give each value's global rank offset; a window partitioned
    BY VALUE (ordered by doc_id) adds the within-value position. The
    NTILE remainder rule (first ``n MOD k`` buckets take the extra
    row) is applied as an explicit integer formula shared verbatim
    with the oracle — no reliance on either engine's ntile().

    Output: (decile, n_docs, n_clean, clean_ppm, min_quality,
    max_quality), ordered by decile.
    """
    from mapreduceindex_spark.operators.text_analysis import quality_score

    q = quality_score(documents).select("doc_id", "quality")
    b = boilerplate_score(documents).select("doc_id", "boilerplate_pct")
    j = q.join(b, "doc_id")
    hist = j.groupBy("quality").agg(F.count(F.lit(1)).alias("_c"))
    wv = Window.orderBy("quality").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = hist.select(
        "quality",
        F.coalesce(F.sum("_c").over(wv), F.lit(0)).alias("_off"),
    )
    nfrm = j.agg(F.count(F.lit(1)).alias("_n"))
    within = Window.partitionBy("quality").orderBy("doc_id")
    k = int(n_bins)
    # standard NTILE from the 1-based rank r over n rows: sizes are
    # m = n DIV k (+1 for the first n MOD k buckets)
    bucket = F.expr(
        f"CASE WHEN (_n DIV {k}) = 0 THEN _r "
        f"WHEN _r <= (_n % {k}) * (_n DIV {k} + 1) "
        f"THEN (_r - 1) DIV (_n DIV {k} + 1) + 1 "
        f"ELSE (_n % {k}) "
        f"+ (_r - (_n % {k}) * (_n DIV {k} + 1) - 1) DIV (_n DIV {k}) "
        f"+ 1 END"
    )
    ranked = (
        j.join(offsets, "quality")
        .withColumn("_r", F.col("_off") + F.row_number().over(within))
        .crossJoin(F.broadcast(nfrm))
        .select(
            "quality",
            "boilerplate_pct",
            bucket.cast("long").alias("decile"),
        )
    )
    clean = F.when(
        F.col("boilerplate_pct") <= F.lit(float(clean_max_pct)), 1
    ).otherwise(0)
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(clean).cast("long").alias("n_clean"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
        .select(
            "decile",
            "n_docs",
            "n_clean",
            F.expr("n_clean * 1000000 DIV n_docs")
            .cast("long")
            .alias("clean_ppm"),
            "min_quality",
            "max_quality",
        )
        .orderBy("decile")
    )


def _nearest_rank_values(
    documents: DataFrame, col: str, pcts: dict[str, int]
) -> DataFrame:
    """Per-source nearest-rank percentile values off a counting
    histogram: for each ``name → pct`` entry, the smallest value whose
    running count reaches ``ceil(n·pct/100)``. Output ``(source,
    <name>…)``, all BIGINT. The one implementation of the rank
    arithmetic shared by ``groupwise_quantile_filter`` (band bounds)
    and ``dataset_card_stats`` (median) — histogram size bounds the
    window, never row count; BIGINT DIV keeps the rank exact past
    2^53/100 group counts."""
    v = F.col(col).cast("long")
    hist = documents.groupBy(F.col("source"), v.alias("_v")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = Window.partitionBy("source").orderBy("_v")
    cum = hist.select(
        "source",
        "_v",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("source")).alias("_n"),
    )
    return cum.groupBy("source").agg(
        *[
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.expr(f"(_n * {int(p)} + 99) DIV 100"),
                    F.col("_v"),
                )
            )
            .cast("long")
            .alias(name)
            for name, p in pcts.items()
        ]
    )


def groupwise_quantile_filter(
    documents: DataFrame,
    lo_pct: int = 5,
    hi_pct: int = 95,
    col: str = "n_chars",
) -> DataFrame:
    """Per-group outlier trim: keep documents whose ``col`` lies within
    the group's [``lo_pct``, ``hi_pct``] percentile band — "drop the
    shortest 5% and longest 5% of each source", the standard length
    gate before training (truncated boilerplate below, concatenation
    artifacts above), applied PER SOURCE so a long-form source isn't
    judged by a short-form source's distribution.

    Exact quantiles without a full-table window: the distribution is
    collapsed to a per-(source, value) COUNTING HISTOGRAM first (output
    bounded by groups × distinct values, not rows), the nearest-rank
    cutoffs ``k = ceil(n·pct/100)`` are read off its running sum, and
    the bounds broadcast-join back onto the corpus as a scan-stage
    filter. Two passes over the data, zero row-level windows, zero
    row-level shuffles — at 100 TB the window runs over a histogram a
    million times smaller than the table (``approxQuantile`` trades
    exactness for one pass; a keyed training gate wants the exact
    band). Nearest-rank on BIGINT values is engine-exact, so the kept
    set is deterministic.
    """
    v = F.col(col).cast("long")
    bounds = _nearest_rank_values(
        documents, col, {"_lo": lo_pct, "_hi": hi_pct}
    )
    return (
        documents.join(F.broadcast(bounds), "source")
        .filter(v.between(F.col("_lo"), F.col("_hi")))
        .select(
            "doc_id",
            "source",
            v.alias("value"),
            F.col("_lo").alias("band_lo"),
            F.col("_hi").alias("band_hi"),
        )
        .orderBy("doc_id")
    )


def mixture_resample(
    documents: DataFrame, weights_ppm: dict[str, int] | None = None
) -> DataFrame:
    """Build a training mixture with TARGET source proportions from
    whatever proportions the corpus actually has — "the mix should be
    30% src0, 30% src1, 20% src2, 20% src3" — by downsampling every
    source to the largest total that satisfies all targets without
    upsampling any source (the standard mixture-construction step
    between curation and sharding).

    Probe-then-plan: one tiny per-source count aggregate is collected
    (bounded by the number of sources), the feasible mixture total
    ``T = min_s floor(n_s·1e6 / w_s)`` and each source's acceptance
    rate are computed in BIGINT on the driver, and the rates return to
    the cluster as literals in a scan-stage hash filter — the full
    corpus is read exactly once, with no shuffle at all on the data
    path. Acceptance is the portable content-hash bucket
    (``stable_hash64(text) mod 1e6 < rate_ppm``), so the kept set is
    deterministic across runs/engines/partitionings and monotone in
    the rate, and exact duplicates sample together.

    Output: one row per mixture source — corpus count, target ppm,
    planned rate, kept count, and the achieved mix share in ppm (kept
    as a fraction of all kept) to audit against the target. All BIGINT.
    """
    weights_ppm = weights_ppm or {
        "src0": 300000,
        "src1": 300000,
        "src2": 200000,
        "src3": 200000,
    }
    counts = {
        r["source"]: r["n"]
        for r in documents.filter(
            F.col("source").isin(list(weights_ppm))
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # feasible total: no source may need more rows than it has
    total = min(
        counts.get(s, 0) * 1_000_000 // w for s, w in weights_ppm.items()
    )
    rate_ppm = {
        s: (
            min(1_000_000, total * w // counts[s])
            if counts.get(s)
            else 0
        )
        for s, w in weights_ppm.items()
    }
    # the acceptance filter keeps the rates as a literal CASE chain
    # (scan-stage, no join on the data path); everything REPORT-side
    # comes from one plan frame built from the same driver-side dicts,
    # so the filter and the report cannot drift
    rate = F.lit(0)
    for s, r in sorted(rate_ppm.items()):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    kept = (
        documents.filter(F.col("source").isin(list(weights_ppm)))
        .filter((stable_hash64("text") % 1_000_000) < rate)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    plan = documents.sparkSession.createDataFrame(
        [
            (s, counts.get(s, 0), w, rate_ppm[s])
            for s, w in sorted(weights_ppm.items())
        ],
        "source string, n_total long, target_ppm long, rate_ppm long",
    )
    total_kept = kept.agg(F.sum("n_kept").alias("_tk"))
    return (
        plan.join(kept, "source", "left")
        .join(F.broadcast(total_kept))
        .select(
            "source",
            "n_total",
            "target_ppm",
            "rate_ppm",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.when(
                F.col("_tk") > 0,
                F.expr(
                    "CAST(coalesce(n_kept, 0) * 1000000 DIV _tk AS BIGINT)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mix_ppm"),
        )
        .orderBy("source")
    )


def decontaminated_corpus(
    documents: DataFrame, n: int = 3, benchmark_mod: int = 97
) -> DataFrame:
    """The removal step ``contamination_check`` scores: per source, how
    many training candidates survive dropping every document that
    shares ANY word ``n``-gram with the held-out benchmark set — the
    audit row a decontamination run reports per corpus slice before
    the clean shards ship.

    Pure composition over the verified ``contamination_check``
    (broadcast benchmark-shingle probe — the corpus is never shuffled
    by shingle key), plus one broadcast join back to ``documents`` for
    the source label and a per-source aggregate bounded by source
    count. Documents with no shingles at all (empty after
    normalization) carry no contamination evidence and count as clean.
    Removal share is reported in exact BIGINT ppm.
    """
    scored = contamination_check(documents, n=n, benchmark_mod=benchmark_mod)
    cand = documents.filter(
        F.col("doc_id") % benchmark_mod != 0
    ).select("doc_id", "source")
    return (
        cand.join(scored.select("doc_id", "n_overlap"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(
                F.when(F.coalesce("n_overlap", F.lit(0)) > 0, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_removed"),
        )
        .select(
            "source",
            "n_candidates",
            "n_removed",
            (F.col("n_candidates") - F.col("n_removed")).alias("n_kept"),
            F.expr(
                "CAST(n_removed * 1000000 DIV n_candidates AS BIGINT)"
            ).alias("removed_ppm"),
        )
        .orderBy("source")
    )


def dataset_card_stats(documents: DataFrame) -> DataFrame:
    """Per-source "dataset card" row: the composition summary a corpus
    release ships alongside the shards — volume (docs/chars/words),
    exact-duplication rate, dominant language and its share, and the
    median document length.

    Everything is one scan plus source-keyed (i.e. tiny) aggregates:

    - volume sums come from a single map-side-combined ``groupBy(source)``;
    - the exact-distinct count pre-aggregates ``(source, md5(text))`` and
      counts per source — two narrow-key exchanges instead of the 2×
      Expand a mixed ``countDistinct`` would plan into the volume scan;
    - the dominant language ranks the ``(source, lang)`` count frame with
      a window PARTITIONED BY source over at most |sources|×|langs| rows;
    - the median is nearest-rank off the same counting-histogram cumsum
      ``groupwise_quantile_filter`` uses — exact, and never a row-level
      window.

    All shares are exact BIGINT ppm; every joined frame is bounded by
    source count, so the final assembly broadcasts. At 100 TB: four
    column-pruned passes over the scan (volume, distinct, language,
    histogram — each needs a different key shape), no wide shuffle
    anywhere; a single-pass variant would trade them for the 2× Expand
    this plan exists to avoid.
    """
    n_words = F.size(
        F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0)
    ).cast("long")
    base = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text").cast("long")).cast("long").alias("n_chars"),
        F.sum(n_words).cast("long").alias("n_words"),
    )
    dist = (
        documents.select("source", F.md5("text").alias("_h"))
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct_texts"))
    )
    lc = documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    # asc_nulls_last: DuckDB's bare ORDER BY lang sorts NULLs last —
    # Spark's default NULLS FIRST would diverge on a NULL-lang tie
    rank_w = Window.partitionBy("source").orderBy(
        F.col("_c").desc(), F.col("lang").asc_nulls_last()
    )
    top = (
        lc.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("_c"))
    )
    med = _nearest_rank_values(documents, "n_chars", {"p50_chars": 50})
    return (
        base.join(F.broadcast(dist), "source")
        .join(F.broadcast(top), "source")
        .join(F.broadcast(med), "source")
        .select(
            "source",
            "n_docs",
            "n_chars",
            "n_words",
            "n_distinct_texts",
            F.expr(
                "CAST((n_docs - n_distinct_texts) * 1000000 DIV n_docs"
                " AS BIGINT)"
            ).alias("dup_ppm"),
            "top_lang",
            F.expr("CAST(_c * 1000000 DIV n_docs AS BIGINT)").alias(
                "top_lang_ppm"
            ),
            "p50_chars",
        )
        .orderBy("source")
    )


def corpus_freshness(documents: DataFrame, batch: int = 50) -> DataFrame:
    """Novelty trend across ingestion batches: split the corpus into
    arrival snapshots (``doc_id DIV batch`` — ids are the ingestion
    order) and report, per snapshot, how much of its content is NEW
    versus already seen in any earlier snapshot — the freshness curve
    that tells a crawl pipeline when a source has gone stale (novelty
    decaying toward zero means re-crawling the same pages).

    Content identity is the portable 60-bit text hash. One pass builds
    the (snapshot, hash) count frame; a window partitioned by hash reads
    each content's FIRST snapshot off that frame (no self-join, and the
    window runs over hash groups whose size is the content's snapshot
    count, never the corpus); a final snapshot-keyed aggregate emits the
    bounded report. At 100 TB: one wide exchange on the content hash —
    the same key exact dedup already shuffles on — and nothing else.
    """
    d = documents.select(
        F.expr(f"CAST(doc_id DIV {int(batch)} AS BIGINT)").alias("snapshot"),
        stable_hash64("text").alias("_h"),
    )
    per = d.groupBy("snapshot", "_h").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    first_w = Window.partitionBy("_h")
    return (
        per.withColumn("_first", F.min("snapshot").over(first_w))
        .groupBy("snapshot")
        .agg(
            F.sum("_c").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(
                F.when(F.col("_first") == F.col("snapshot"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new"),
        )
        .select(
            "snapshot",
            "n_docs",
            "n_distinct",
            "n_new",
            F.expr("CAST(n_new * 1000000 DIV n_distinct AS BIGINT)").alias(
                "novel_ppm"
            ),
        )
        .orderBy("snapshot")
    )


def shard_skew_report(documents: DataFrame, n_shards: int = 64) -> DataFrame:
    """Pre-write balance check for a planned ``n_shards`` content-hash
    sharding (the layout ``shuffle_corpus``/``split_by_hash`` commit
    to): per-shard document count and relative load in ppm of the
    balanced share (1 000 000 = perfectly even; a hot shard shows as
    >1e6) — run this BEFORE burning a 100 TB write on a layout that
    one pathological shard would straggle.

    Empty shards are reported explicitly (a ``range(n_shards)``
    metadata grid left-joins the counts — absent-is-zero is the one
    thing a balance report must not hide). One scan + one
    shard-bounded aggregate; the total is a broadcast scalar; load is
    BIGINT floor division. Content-keyed hashing means exact dupes
    land together — this report shows that skew honestly.
    """
    per = (
        documents.select(
            (stable_hash64("text") % n_shards).alias("shard")
        )
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    grid = documents.sparkSession.range(n_shards).select(
        F.col("id").cast("long").alias("shard")
    )
    total = documents.agg(F.count(F.lit(1)).alias("_t"))
    return (
        grid.join(per, "shard", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "shard",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_docs"),
            # ANSI mode: DIV by zero throws — an empty corpus has no
            # balanced share, so load is NULL there, never a fake 1e6
            F.expr(
                f"CASE WHEN _t = 0 THEN NULL ELSE "
                f"(coalesce(_n, 0) * {n_shards} * 1000000) DIV _t END"
            )
            .cast("long")
            .alias("load_ppm"),
        )
        .orderBy("shard")
    )


def domain_divergence(documents: DataFrame) -> DataFrame:
    """Pairwise KL divergence KL(P_a ‖ P_b) between every ordered pair
    of sources' unigram distributions, add-one smoothed over the global
    vocabulary — the domain-similarity matrix behind mixture design and
    drift triage (a source whose divergence from everything else jumps
    between crawls changed its content pipeline).

    Exactness: every (pair, word) term ``p_a·ln(p_a/p_b)`` is built
    from the SAME double expression tree on both engines — integer
    counts cast to double, one division for p_a, the ratio as
    (c_a+1)(n_b+V) / (c_b+1)(n_a+V) in that literal order — then
    tie-free micro-quantized BEFORE the per-pair sum (associative, so
    any partitioning agrees). Output is BIGINT micro-nats.

    Scale shape: the dense (source × vocab) frame left-joins counts so
    absent words still contribute their smoothed mass; everything
    downstream is sources²×vocab-bounded, never corpus-bounded — and
    like ``vocab_coverage`` the vocab side takes a top-K budget at real
    scale (full vocab here; the fixture vocabulary is ~31 words).
    """
    from mapreduceindex_spark.functions import caching
    from mapreduceindex_spark.functions.exact import micro

    toks = (
        documents.select(
            "source", F.explode(words(F.col("text"))).alias("word")
        )
        .filter(F.length("word") > 0)
    )
    # counts feeds totals, the vocab census, AND both sides of the pair
    # join — unpersisted, Spark re-runs the token scan + aggregate 7x
    caching.release("domain_divergence")
    counts = caching.track(
        toks.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("_c"))
        .persist(),
        "domain_divergence",
    )
    totals = counts.groupBy("source").agg(F.sum("_c").alias("_n"))
    vocab = counts.select("word").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("_v"))
    dense = (
        vocab.crossJoin(F.broadcast(totals))
        .join(counts, ["source", "word"], "left")
        .select(
            "word",
            "source",
            "_n",
            F.coalesce("_c", F.lit(0)).alias("_c"),
        )
    )
    a = dense.select(
        "word",
        F.col("source").alias("source_a"),
        F.col("_n").alias("_na"),
        F.col("_c").alias("_ca"),
    )
    b = dense.select(
        "word",
        F.col("source").alias("source_b"),
        F.col("_n").alias("_nb"),
        F.col("_c").alias("_cb"),
    )
    pa = (F.col("_ca") + 1).cast("double") / (
        (F.col("_na") + F.col("_v")).cast("double")
    )
    ratio = (
        (F.col("_ca") + 1).cast("double")
        * (F.col("_nb") + F.col("_v")).cast("double")
    ) / (
        (F.col("_cb") + 1).cast("double")
        * (F.col("_na") + F.col("_v")).cast("double")
    )
    return (
        a.join(b, "word")
        .filter(F.col("source_a") != F.col("source_b"))
        .crossJoin(F.broadcast(v))
        .select(
            "source_a",
            "source_b",
            micro(pa * F.log(ratio)).alias("_t"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.sum("_t").cast("long").alias("kl_micro"))
        .orderBy("source_a", "source_b")
    )


def truncation_loss_report(
    documents: DataFrame, budgets: tuple[int, ...] = (512, 2048, 8192)
) -> DataFrame:
    """What each context-length choice COSTS per source: for every
    (source, budget) pair, how many documents exceed the budget and how
    many tokens fall past it (lost to truncation under a truncate-at-L
    policy) — the first table read before picking a packing/truncation
    strategy, and the complement of ``pack_sequences`` (which measures
    padding waste; this measures truncation waste).

    Token basis: normalized words (``words()``), the family's shared
    basis. One corpus scan computes per-doc counts; the budget sweep is
    a dimension-bounded explode over the per-doc frame (|budgets| rows
    per doc feeding a sources×budgets aggregate — never a re-scan per
    budget). Exact BIGINT outputs plus a ppm share, engine-portable.
    """
    per_doc = documents.select(
        "source",
        F.size(words(F.col("text"))).cast("long").alias("_tok"),
    )
    b_arr = F.array(*[F.lit(int(b)).cast("long") for b in budgets])
    swept = per_doc.select(
        "source", "_tok", F.explode(b_arr).alias("budget")
    )
    return (
        swept.groupBy("source", "budget")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("_tok") > F.col("budget"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_truncated"),
            F.sum("_tok").cast("long").alias("tokens_total"),
            F.sum(
                F.greatest(F.col("_tok") - F.col("budget"), F.lit(0))
            )
            .cast("long")
            .alias("tokens_lost"),
        )
        .select(
            "source",
            "budget",
            "n_docs",
            "n_docs_truncated",
            "tokens_total",
            "tokens_lost",
            F.when(
                F.col("tokens_total") > 0,
                F.expr("CAST(tokens_lost * 1000000 DIV tokens_total AS BIGINT)"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("loss_ppm"),
        )
        .orderBy("source", "budget")
    )


def leakage_safe_split(
    documents: DataFrame,
    train_pct: int = 80,
    valid_pct: int = 10,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Cluster-level train/valid/test assignment: every member of a
    near-duplicate cluster follows its REPRESENTATIVE's content-hash
    bucket, so no two near-duplicates ever straddle a split boundary —
    the eval-contamination rule ``split_by_hash`` can only enforce for
    byte-identical copies (same text → same hash), extended to the
    jaccard ≥ ``threshold`` graph (one paraphrase in train + one in
    test silently inflates eval scores; this is the split that
    prevents it).

    Composition: ``dedup.near_dup_clusters`` (LSH-bucketed candidates,
    two-tier component resolve — never all-pairs) supplies
    (doc_id, cluster_rep); the rep's ``split_by_hash`` bucket (portable
    md5 formula) becomes the whole cluster's split. The readout
    aggregates per split: doc count, cluster count, char mass, and
    ``n_rescued`` — members whose OWN content bucket disagrees with
    their cluster's split, i.e. exactly the documents a naive
    per-document split would have leaked across the boundary. The
    oracle wraps the already-verified ``near_dup_clusters`` SQL as a
    CTE (the ``curation_funnel`` composition discipline).

    Scale shape: the cluster resolve is the documented scale path (LSH
    banding + distributed label propagation past the driver-tier edge
    guard); after it, two doc_id-keyed hash joins against bucket
    projections and one |splits|-bounded aggregate. No new shuffle
    shape beyond the verified components.

    Output: (split, n_docs, n_clusters, sum_chars, n_rescued), ordered.
    """
    from mapreduceindex_spark.operators.dedup import near_dup_clusters

    clusters = near_dup_clusters(documents, n=n, threshold=threshold)
    own = documents.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("_chars"),
        (stable_hash64("text") % 100).alias("_own_bucket"),
    )
    rep = documents.select(
        F.col("doc_id").alias("cluster_rep"),
        (stable_hash64("text") % 100).alias("_rep_bucket"),
    )

    def _split(bucket: str) -> F.Column:
        return (
            F.when(F.col(bucket) < train_pct, "train")
            .when(F.col(bucket) < train_pct + valid_pct, "valid")
            .otherwise("test")
        )

    j = (
        clusters.join(own, "doc_id")
        .join(rep, "cluster_rep")
        .select(
            "cluster_rep",
            "_chars",
            _split("_rep_bucket").alias("split"),
            _split("_own_bucket").alias("_own_split"),
        )
    )
    return (
        j.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_rep").cast("long").alias("n_clusters"),
            F.sum("_chars").cast("long").alias("sum_chars"),
            F.sum(
                F.when(F.col("_own_split") != F.col("split"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_rescued"),
        )
        .orderBy("split")
    )


def skipgram_cooccurrence(
    documents: DataFrame, window: int = 4, top_k: int = 50
) -> DataFrame:
    """Windowed co-occurrence association: the strongest UNORDERED word
    pairs appearing within ``window`` tokens of each other —
    ``bigram_lift`` generalized past adjacency (the skip-gram statistic
    word2vec factorizes; topical affinity like "minhash … jaccard"
    shows up here long before the words ever touch). Same exact
    rational as ``bigram_lift``: ``lift = n_ab · N / (n_a · n_b)``
    (PMI's argument, integer-born — no cross-engine ``ln``).

    Counting rule (both engines verbatim): every ordered position pair
    (p, q) with ``p < q ≤ p + window`` in one document contributes one
    event to its canonical pair ``(least(w_p, w_q), greatest(...))``;
    equal-word pairs are dropped (self-association is a repetition
    signal — ``repetition_profile``'s job, noise here).

    Scale shape: the pair emit is ``window`` LEADs over the per-doc
    position window — one pass, ``window``·N rows of (word, word), no
    self-join of the token table (the oracle does the O(N·window)
    range join precisely because it doesn't need to scale); the
    count aggregate keys on word pairs; top-k cuts before the two
    broadcast unigram joins (vocabulary ≪ corpus).

    Output: (pair, n_ab, n_a, n_b, lift), (n_ab DESC, pair ASC).
    """
    toks = word_rows(documents)
    unigrams = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_uni"))
    total = toks.select(F.count(F.lit(1)).alias("n_total"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    neigh = F.array(
        *[F.lead("w", j).over(win) for j in range(1, window + 1)]
    )
    pairs = (
        toks.select(F.col("w"), neigh.alias("_nb"))
        .select(F.col("w"), F.explode("_nb").alias("w2"))
        .filter(F.col("w2").isNotNull() & (F.col("w") != F.col("w2")))
        .select(
            F.least("w", "w2").alias("w_a"),
            F.greatest("w", "w2").alias("w_b"),
        )
        .groupBy("w_a", "w_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .orderBy(F.col("n_ab").desc(), F.col("w_a").asc(), F.col("w_b").asc())
        .limit(top_k)
    )
    return (
        pairs.join(
            F.broadcast(unigrams.withColumnRenamed("w", "w_a")), "w_a"
        )
        .withColumnRenamed("n_uni", "n_a")
        .join(F.broadcast(unigrams.withColumnRenamed("w", "w_b")), "w_b")
        .withColumnRenamed("n_uni", "n_b")
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(" ", "w_a", "w_b").alias("pair"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                (F.col("n_ab") * F.col("n_total")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), F.col("pair").asc())
    )


def weighted_sample(documents: DataFrame, k: int = 50) -> DataFrame:
    """Deterministic weight-proportional sample: the ``k`` documents
    with the smallest ``priority = hash DIV weight`` where the weight
    is the document's char mass — heavier documents draw
    proportionally smaller priorities, so the sample leans toward mass
    the way a token-budgeted eval set should (``deterministic_sample``
    is the uniform-rate cousin; ``per_source_topk_sample`` the fixed
    per-group budget). Content-keyed (the ``split_by_hash`` md5), so
    the draw is stable across runs, engines, and ingestion order.

    This is the integer surrogate of A-ES exponential-jump sampling
    (priority u^(1/w)): the DIV form keeps the draw integer-exact and
    oracle-replayable where the float exponentiation would hang the
    correctness gate on libm differences; it preserves the monotone
    weight bias (E[rank] strictly decreasing in w), not A-ES's exact
    inclusion probabilities — documented trade.

    Scale shape: one projection computes priorities; the global top-k
    is Spark's TakeOrdered (per-partition heaps + k-row driver merge),
    never a full sort. Zero-mass docs (weight clamped to ≥ 1) stay
    drawable.

    Output: (doc_id, source, weight, priority), priority ASC.
    """
    w = F.greatest(F.col("n_chars").cast("long"), F.lit(1))
    return (
        documents.select(
            "doc_id",
            "source",
            w.alias("weight"),
            stable_hash64("text").alias("_h"),
        )
        .select(
            "doc_id",
            "source",
            "weight",
            # hash >= 0, weight >= 1: truncating DIV == floor here, and
            # it stays in BIGINT (a float `/` would round the 60-bit
            # hash through a 53-bit mantissa — engine-divergent)
            F.expr("_h DIV weight").cast("long").alias("priority"),
        )
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(k)
    )


def temperature_mixture(
    documents: DataFrame, target_total: int = 100_000
) -> DataFrame:
    """Temperature-smoothed (α = 0.5) source-mixture PLANNING table —
    the standard multilingual/multi-source LM reweighting: sampling
    weights ∝ n_s^α flatten the source distribution so small sources
    are not drowned (α=1 keeps natural proportions, α=0 is uniform;
    0.5 is the square-root temperature of the multilingual-pretraining
    literature). Where ``mixture_resample`` EXECUTES a given mixture
    without upsampling, this operator COMPUTES the α-mixture and
    reports per-source quota and effective epochs at a target budget —
    epochs_ppm > 1e6 is the "this source will repeat" flag read before
    anyone trains.

    Exactness: n^0.5 is floor(sqrt(n)) — IEEE sqrt is correctly
    rounded, so floor(sqrt(double)) equals the integer square root for
    any count below ~2^40 on BOTH engines (the nearest-integer
    boundary gap 1/(2√n) exceeds the ulp by many orders); shares,
    quotas, and epochs are floored BIGINT divisions of BIGINT products.

    Scale shape: ONE source-keyed aggregate (the only data-scale
    exchange) + a broadcast weight-total join over |sources| rows.
    Output: (source, n_docs, weight_u, share_ppm, quota, epochs_ppm),
    ordered by source.
    """
    counts = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    weighted = counts.select(
        "source",
        "n_docs",
        F.expr(
            "CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"
        ).alias("weight_u"),
    )
    tot = weighted.agg(F.sum("weight_u").alias("_wt"))
    t = int(target_total)
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "weight_u",
            F.expr("weight_u * 1000000 DIV _wt").cast("long").alias(
                "share_ppm"
            ),
            F.expr(f"weight_u * {t} DIV _wt").cast("long").alias("quota"),
            F.expr(
                f"(weight_u * {t} DIV _wt) * 1000000 DIV n_docs"
            )
            .cast("long")
            .alias("epochs_ppm"),
        )
        .orderBy("source")
    )


def temperature_mixture_oracle_sql(target_total: int = 100_000) -> str:
    """DuckDB twin of :func:`temperature_mixture` — identical isqrt
    weights and floored BIGINT shares/quotas/epochs."""
    t = int(target_total)
    return f"""
WITH counts AS (
  SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
), weighted AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight_u
  FROM counts
), tot AS (
  SELECT sum(weight_u)::BIGINT AS wt FROM weighted
)
SELECT source, n_docs, weight_u,
       (weight_u * 1000000 // wt)::BIGINT AS share_ppm,
       (weight_u * {t} // wt)::BIGINT AS quota,
       ((weight_u * {t} // wt) * 1000000 // n_docs)::BIGINT AS epochs_ppm
FROM weighted, tot
ORDER BY source
"""


def isotonic_calibration(documents: DataFrame) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the lexical-
    diversity signal against log2 length buckets — exact PAVA via the
    minimax identity: iso_i = max_{j≤i} min_{l≥i} avg(y over buckets
    j..l) (Barlow & Brunk's representation of the pool-adjacent-
    violators solution). The reliability-diagram companion
    (``quality_reliability_curve`` shows the empirical curve; this
    produces the monotone-regularized one a pipeline would actually
    threshold on — pooling tells you which buckets' raw means were
    noise).

    Exactness: y is the per-doc distinct-word ratio in floored ppm
    (the ``ranker_agreement`` signal); every range average is ONE
    floored integer division of range sums off a cumulative bucket
    frame; the max-of-min runs over integers, so both engines agree
    bit-for-bit. (With floored rather than rational range averages the
    fit can sit 1 ppm under the true PAVA value — documented, and
    irrelevant to the monotonicity guarantee.)

    Scale shape: ONE data-scale aggregate (doc → bucket sums); the
    minimax enumerates (i, j, l) bucket triples over the ~15-row log2
    bucket frame — metadata-sized, broadcast everywhere, never a
    data-dependent join. This is the point of the minimax form: the
    sequential PAVA pooling loop becomes a closed-form expression a
    declarative engine evaluates in one shot.

    Columns: (bucket, n_docs, mean_ppm, iso_ppm, pooled), ordered by
    bucket; ``pooled`` = 1 where the fit moved the raw mean.
    """
    y = documents.select(
        "n_chars", words(F.col("text")).alias("_ws")
    ).select(
        F.expr(
            "CASE WHEN n_chars <= 0 THEN -1 "
            "ELSE length(bin(n_chars)) - 1 END"
        ).alias("bucket"),
        F.expr(
            "CASE WHEN size(_ws) > 0 THEN "
            "size(array_distinct(_ws)) * 1000000 DIV size(_ws) "
            "ELSE 0 END"
        ).alias("ppm"),
    )
    grp = y.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ppm").cast("long").alias("sy"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "bucket",
        "n_docs",
        "sy",
        F.sum("n_docs").over(w).alias("cn"),
        F.sum("sy").over(w).alias("cs"),
    )
    lo = cum.select(
        F.col("bucket").alias("j"),
        (F.col("cn") - F.col("n_docs")).alias("cn_jm1"),
        (F.col("cs") - F.col("sy")).alias("cs_jm1"),
    )
    hi = cum.select(
        F.col("bucket").alias("l"),
        F.col("cn").alias("cn_l"),
        F.col("cs").alias("cs_l"),
    )
    ranges = (
        lo.join(hi, F.col("j") <= F.col("l"))
        .select(
            "j",
            "l",
            F.expr(
                "(cs_l - cs_jm1) DIV (cn_l - cn_jm1)"
            ).alias("avg_jl"),
        )
    )
    idx = cum.select(F.col("bucket").alias("i"))
    inner = (
        idx.join(
            ranges, (F.col("j") <= F.col("i")) & (F.col("l") >= F.col("i"))
        )
        .groupBy("i", "j")
        .agg(F.min("avg_jl").alias("m_ij"))
    )
    iso = inner.groupBy("i").agg(F.max("m_ij").alias("iso_ppm"))
    return (
        grp.join(iso, grp.bucket == iso.i)
        .select(
            "bucket",
            "n_docs",
            F.expr("sy DIV n_docs").alias("mean_ppm"),
            "iso_ppm",
            F.expr(
                "CAST(CASE WHEN iso_ppm <> sy DIV n_docs THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("pooled"),
        )
        .orderBy("bucket")
    )
