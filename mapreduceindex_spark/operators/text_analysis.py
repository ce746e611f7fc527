"""Text-analysis operators over the ``documents`` table (SURVEY.md EXT3).

Language ID (stopword heuristic), quality scoring, token statistics,
and document fingerprinting.

Formulation note (measured, not guessed): per-token work is expressed as
**explode → scalar projection → hash aggregate**, not as array
higher-order functions — HOF lambdas (``transform``/``filter``/
``aggregate``) fall out of whole-stage codegen and run interpreted,
~3× slower at fixture scale and worse at 100 TB. The explode form keeps
every expression codegen'd and gets map-side partial aggregation for
free; per-document results come back from one hash aggregate on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Small English function-word list for the language-ID heuristic.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "in", "on", "to", "is", "are",
    "was", "for", "with", "as", "by", "at", "from", "that", "this",
)

#: BPE-ish lexer classes: letter runs, digit runs, single punctuation.
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _tokens(documents: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, extra..., tok, word) — the shared row-wise tokenizer
    (``functions.text.token_rows``); see there for semantics."""
    from mapreduceindex_spark.functions.text import token_rows

    return token_rows(documents, "text", "doc_id", *extra_cols)


def doc_stats(documents: DataFrame) -> DataFrame:
    """Per-document token statistics.

    n_tokens (whitespace tokens), n_words (normalized non-empty),
    n_distinct_words, avg_word_len, distinct_ratio.
    """
    toks = _tokens(documents)
    is_word = F.length("word") > 0
    agg = toks.groupBy("doc_id").agg(
        F.count(F.when(F.length("tok") > 0, 1)).alias("n_tokens"),
        F.count(F.when(is_word, 1)).alias("n_words"),
        F.countDistinct(F.when(is_word, F.col("word"))).alias(
            "n_distinct_words"
        ),
        F.sum(F.length("word")).alias("_sum_len"),
    )
    n = F.col("n_words")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_words",
        "n_distinct_words",
        F.round(
            F.when(n > 0, F.col("_sum_len").cast("double") / n), 4
        ).alias("avg_word_len"),
        F.round(
            F.when(n > 0, F.col("n_distinct_words").cast("double") / n), 4
        ).alias("distinct_ratio"),
    ).orderBy("doc_id")


def token_counts_bpe(documents: DataFrame) -> DataFrame:
    """BPE-ish token counting: letter runs / digit runs / punctuation marks.

    A regex lexer via ``regexp_extract_all`` — the standard pre-tokenizer
    shape for LLM data pipelines (count before you train). The explode is
    over match positions, so counts aggregate codegen-side.
    """
    toks = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)
        ).alias("tok"),
    )
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bpe_tokens"),
        F.countDistinct("tok").alias("n_distinct_bpe"),
    )
    # total over the corpus: tokenless docs report zeros, not absence
    return (
        documents.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias(
                "n_bpe_tokens"
            ),
            F.coalesce("n_distinct_bpe", F.lit(0)).cast("long").alias(
                "n_distinct_bpe"
            ),
        )
        .orderBy("doc_id")
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-ratio language heuristic.

    en_ratio = fraction of words in a small English function-word list;
    predicted 'en' iff ratio ≥ 0.08. (An n-gram model would slot in the
    same expression shape; the declared ``lang`` column stays available
    for supervised comparison.)
    """
    toks = _tokens(documents, "lang")
    is_word = F.length("word") > 0
    agg = toks.groupBy("doc_id", "lang").agg(
        F.count(F.when(is_word, 1)).alias("_n"),
        F.count(
            F.when(is_word & F.col("word").isin(*EN_STOPWORDS), 1)
        ).alias("_hits"),
    )
    ratio = F.when(
        F.col("_n") > 0, F.col("_hits").cast("double") / F.col("_n")
    ).otherwise(F.lit(0.0))
    return agg.select(
        "doc_id",
        "lang",
        F.round(ratio, 4).alias("en_ratio"),
        F.when(ratio >= 0.08, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("pred_lang"),
    ).orderBy("doc_id")


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite document-quality score in [0,1] — LLM-corpus filtering shape.

    Components (each a bounded ratio): alpha character ratio, distinct-word
    ratio, mean-word-length band, length band. Character-level ratios ride
    along the explode as per-doc constants (first()), so one aggregate
    produces everything.
    """
    docs = documents.select(
        "doc_id",
        "text",
        F.length("text").alias("_n_chars"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias("_n_alpha"),
    )
    toks = _tokens(docs, "_n_chars", "_n_alpha")
    is_word = F.length("word") > 0
    agg = toks.groupBy("doc_id").agg(
        F.first("_n_chars").alias("_n_chars"),
        F.first("_n_alpha").alias("_n_alpha"),
        F.count(F.when(is_word, 1)).alias("_n"),
        F.countDistinct(F.when(is_word, F.col("word"))).alias("_nd"),
        F.sum(F.length("word")).alias("_sum_len"),
    )
    alpha_ratio = F.when(
        F.col("_n_chars") > 0,
        F.col("_n_alpha").cast("double") / F.col("_n_chars"),
    ).otherwise(F.lit(0.0))
    distinct_ratio = F.when(
        F.col("_n") > 0, F.col("_nd").cast("double") / F.col("_n")
    ).otherwise(F.lit(0.0))
    mean_len = F.when(
        F.col("_n") > 0, F.col("_sum_len").cast("double") / F.col("_n")
    ).otherwise(F.lit(0.0))
    score = (
        alpha_ratio * 0.3
        + distinct_ratio * 0.3
        + F.least(F.col("_n").cast("double") / 100.0, F.lit(1.0)) * 0.2
        + F.least(mean_len / 8.0, F.lit(1.0)) * 0.2
    )
    return agg.select(
        "doc_id",
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(score, 4).alias("quality"),
    ).orderBy("doc_id")


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprint: md5 over the sorted distinct word set.

    Robust to word order and duplication — the canonical cheap
    "same bag of words" document key for corpus bookkeeping. One hash
    aggregate (collect_set) then a scalar md5 over the sorted join.
    """
    toks = _tokens(documents)
    return (
        # collect_set ignores NULLs, so wordless docs still emit md5("")
        # (parity with the array formulation and the oracle).
        toks.groupBy("doc_id")
        .agg(
            F.collect_set(
                F.when(F.length("word") > 0, F.col("word"))
            ).alias("_ws")
        )
        .select(
            "doc_id",
            F.md5(F.array_join(F.array_sort("_ws"), " ")).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


def word_counts(documents: DataFrame) -> DataFrame:
    """Corpus-wide term frequencies (every occurrence, not per-doc distinct)."""
    toks = _tokens(documents).filter(F.length("word") > 0)
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
    )


def tf_idf(documents: DataFrame) -> DataFrame:
    """TF-IDF per (doc, word): tf = in-doc count, idf = ln(N / df).

    One scan: df is derived from tf's output (tf rows are distinct
    (doc, word) pairs, so df = per-word row count of tf — no second
    explode of the corpus; tf is persisted because it feeds both the join
    and the df aggregation and Spark has no cross-branch reuse). df is
    broadcast (vocabulary ≪ corpus at scale). Natural log, smoothing-free
    — matches the oracle formula exactly.
    """
    from pyspark.storagelevel import StorageLevel

    from mapreduceindex_spark.functions import caching

    caching.release("tf_idf")
    pairs = _tokens(documents).filter(F.length("word") > 0).select(
        "doc_id", "word"
    )
    tf = caching.track(
        pairs.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK),
        "tf_idf",
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    total = documents.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "word",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "word")
    )


def length_histogram(documents: DataFrame) -> DataFrame:
    """Corpus length distribution in power-of-two character buckets.

    The standard first look at a crawl: bucket = floor(log2(len)) with
    empty docs in bucket -1. Pure integer arithmetic (no float log —
    ``bit_length`` via string length of the binary representation is
    engine-portable and exact at bucket boundaries, where float log2 of
    4096 can land on 11.999999…).
    """
    n = F.length("text")
    # floor(log2(n)) for n ≥ 1 == bit_length(n) - 1; DuckDB's bit_length
    # differs, so both engines use length(to-binary-string) - 1.
    bucket = (
        F.when(n <= 0, F.lit(-1))
        .otherwise(F.length(F.conv(n.cast("string"), 10, 2)) - 1)
        .cast("long")
    )
    return (
        documents.select(bucket.alias("log2_bucket"), n.alias("_n"))
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("_n").cast("long").alias("min_chars"),
            F.max("_n").cast("long").alias("max_chars"),
        )
        .orderBy("log2_bucket")
    )


def top_words_per_source(documents: DataFrame, k: int = 5) -> DataFrame:
    """Most frequent normalized words per source, deterministic top-k.

    Two-level aggregation + window rank: (source, word) counts partial-
    aggregate map-side, then one window per source ranks them — the
    "what does each slice of the crawl look like" probe. Requires the
    ``source`` metadata column.
    """
    from pyspark.sql.window import Window

    counts = (
        _tokens(documents, "source")
        .filter(F.length("word") > 0)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("word").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .orderBy("source", "rk")
    )


def lm_doc_scores(documents: DataFrame) -> DataFrame:
    """Bigram-LM document scores — the LM-based quality filter of a
    training pipeline (CCNet/Gopher shape): train an add-one-smoothed
    bigram model ON the corpus itself, then score every document by its
    mean bigram log-probability. Low scorers are boilerplate/garbled
    text whose word transitions don't look like the corpus.

    Output: (doc_id, n_bigrams, avg_logp) with
    ``logp(w2|w1) = ln((C(w1,w2) + 1) / (C(w1,·) + V))`` where V is the
    corpus vocabulary size; single-word and empty docs emit
    ``n_bigrams = 0, avg_logp NULL``.

    Cross-engine determinism: each bigram's log-prob is quantized to
    integer MICRO-units (``round(ln(p)·1e6)`` as BIGINT) before the
    per-doc sum — integer addition is associative, so the result is
    identical under any partitioning, and the oracle reproduces it
    exactly (both engines divide the same two exact integers at the
    end). A raw double sum would be partition-order-dependent.

    Scale: two corpus passes (bigram emit, then count-join). The
    bigram→count join shuffles on the bigram string; the context-count
    and V sides are broadcast (vocabulary ≪ corpus). No driver
    materialization anywhere.
    """
    from pyspark.sql.window import Window

    from mapreduceindex_spark.functions.text import word_rows

    toks = word_rows(documents)
    win = Window.partitionBy("doc_id").orderBy("pos")
    from mapreduceindex_spark.functions import caching

    caching.release("lm_doc_scores")
    big = caching.track(
        toks.select(
            "doc_id",
            F.col("w").alias("w1"),
            F.lead("w").over(win).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w1", F.concat_ws(" ", "w1", "w2").alias("bg"))
        .persist(),
        "lm_doc_scores",
    )
    c2 = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = toks.agg(F.countDistinct("w").alias("v"))
    lm = (
        c2.withColumn("w1", F.split("bg", " ")[0])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "bg",
            F.round(
                F.log(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    scored = (
        big.join(lm, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("_sum_micro"),
        )
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(
                F.col("_sum_micro").cast("double")
                / F.col("n_bigrams").cast("double")
                / 1e6,
                6,
            ).alias("avg_logp"),
        )
        .orderBy("doc_id")
    )


def vocab_stats(documents: DataFrame) -> DataFrame:
    """Per-source vocabulary statistics — the Heaps'-law inputs a corpus
    curator tracks while scaling a crawl: total tokens, distinct words,
    hapax legomena (words occurring exactly once in the source), and the
    ratios. A source whose hapax share collapses is saturating (more of
    the same); one whose share stays high keeps contributing novel
    vocabulary — that is the mix-weighting signal.

    Plan: one token pass → (source, word) counts (partial agg map-side),
    then a per-source rollup — the word-level frame never leaves the
    exchange that built it. Ratios are single divisions of exact BIGINT
    counts, so the 6-dp rounding is cross-engine deterministic.
    """
    word_counts_by_source = (
        _tokens(documents, "source")
        .filter(F.length("word") > 0)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        word_counts_by_source.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.count(F.when(F.col("n") == 1, 1)).cast("long").alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            "n_hapax",
            F.round(
                F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
            ).alias("distinct_ratio"),
            F.round(
                F.col("n_hapax").cast("double") / F.col("n_distinct"), 6
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


def token_length_histogram(documents: DataFrame) -> DataFrame:
    """Corpus-wide word-length distribution: for each normalized word
    length, total occurrences and distinct words of that length.

    The tokenizer-design companion to ``length_histogram`` (which buckets
    documents): the occurrence/type split shows whether long tokens are
    a heavy tail of unique junk (URLs, hashes — high distinct, low reuse)
    or legitimate vocabulary. Pure integer aggregation over one token
    pass; the distinct count rides the same exchange partitioned by
    length.
    """
    lengths = (
        _tokens(documents)
        .filter(F.length("word") > 0)
        .select(F.length("word").cast("long").alias("word_len"), "word")
    )
    return (
        lengths.groupBy("word_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("word").cast("long").alias("n_distinct_words"),
        )
        .orderBy("word_len")
    )


def lang_id_confusion(documents: DataFrame) -> DataFrame:
    """Confusion matrix of the ``language_id`` classifier against the
    labeled ``lang`` column: (lang, pred_lang, n_docs, share-of-label).

    The eval loop a pipeline runs after changing a filter model: per
    true label, where do its documents land? ``share`` is each cell's
    fraction of its label row (exact BIGINT counts, one division), so
    per-label recall is read directly off the diagonal.
    """
    from pyspark.sql.window import Window

    preds = language_id(documents).select("doc_id", "lang", "pred_lang")
    cells = preds.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    label_totals = Window.partitionBy("lang")
    return (
        cells.select(
            "lang",
            "pred_lang",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double")
                / F.sum("n_docs").over(label_totals),
                6,
            ).alias("share"),
        )
        .orderBy("lang", "pred_lang")
    )


def quality_by_source(documents: DataFrame) -> DataFrame:
    """Per-source quality profile: doc count, exact mean quality, and the
    share below a keep-threshold — the slice-level readout that turns
    ``quality_score`` into mixture decisions (a slice whose mean decays
    or whose reject share grows gets down-weighted before training).

    Exactness: per-doc quality is the oracle-exact 4-dp score; the mean
    aggregates it as integer ten-thousandths (associative BIGINT sum,
    order-independent) and divides once, so the 6-dp result is
    cross-engine deterministic — the same quantize-then-sum pattern as
    ``embedding_dim_stats``.
    """
    q = quality_score(documents).select("doc_id", "quality")
    src = documents.select("doc_id", "source")
    joined = src.join(q, "doc_id").select(
        "source",
        F.round(F.col("quality") * 10000, 0).cast("long").alias("_q4"),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_q4").alias("_sum_q4"),
            F.count(F.when(F.col("_q4") < 6200, 1))
            .cast("long")
            .alias("n_below_062"),
        )
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("_sum_q4").cast("double") / 10000.0 / F.col("n_docs"), 6
            ).alias("mean_quality"),
            "n_below_062",
            F.round(
                F.col("n_below_062").cast("double") / F.col("n_docs"), 6
            ).alias("reject_share"),
        )
        .orderBy("source")
    )


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    """Per-source tokenizer-fertility readout: how many (BPE-ish) tokens
    the pre-tokenizer produces per character and per whitespace word —
    THE number that decides how much compute a source actually costs to
    train on (a 1.4×-fertility source eats 40% more sequence budget per
    byte of text) and the first drift alarm when a new crawl snapshot
    tokenizes differently.

    One scan: token counts are computed row-local inside whole-stage
    codegen (``regexp_extract_all`` sizes, no explode — counting needs
    lengths, not token rows), then a single map-side-combined aggregate
    bounded by source count. Ratios are exact BIGINT micro-units
    (tokens·1e6 DIV denominator), so the output is engine-deterministic
    and hash-stable. At 100 TB: embarrassingly parallel scan + a
    sources-sized shuffle.
    """
    per_doc = documents.select(
        "source",
        F.length("text").cast("long").alias("_chars"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0))
        .cast("long")
        .alias("_bpe"),
        F.size(
            F.filter(
                F.split("text", r"\s+"), lambda t: F.length(t) > 0
            )
        )
        .cast("long")
        .alias("_words"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_chars").cast("long").alias("n_chars"),
            F.sum("_words").cast("long").alias("n_words"),
            F.sum("_bpe").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_chars",
            "n_words",
            "n_bpe_tokens",
            F.when(
                F.col("n_chars") > 0,
                F.expr("CAST(n_bpe_tokens * 1000000 DIV n_chars AS BIGINT)"),
            )
            .otherwise(F.lit(0))
            .alias("tokens_per_char_micro"),
            F.when(
                F.col("n_words") > 0,
                F.expr("CAST(n_bpe_tokens * 1000000 DIV n_words AS BIGINT)"),
            )
            .otherwise(F.lit(0))
            .alias("tokens_per_word_micro"),
        )
        .orderBy("source")
    )


def typo_pairs(documents: DataFrame, min_len: int = 4) -> DataFrame:
    """Vocabulary noise mining: every pair of corpus words at edit
    distance exactly 1 — the typo/variant detector behind spelling
    normalization and OCR cleanup (the low-df member of a pair is
    almost always the corruption of the high-df one).

    SymSpell-style deletion-neighborhood join, never all-pairs: each
    vocabulary word emits itself plus its |w| single-deletion variants;
    two words at Levenshtein 1 (one insertion, deletion, or
    substitution) PROVABLY share a variant key, so the candidate join
    runs inside variant buckets only, and exact ``levenshtein`` (a
    built-in on both engines) verifies each candidate — no false
    positives survive, and transposition-class matches are correctly
    excluded (distance 2). Words shorter than ``min_len`` are skipped
    (their neighborhoods are dense with real words, not typos).

    Scale shape: everything after the token scan is VOCABULARY-bounded
    (Heaps' law), the variant frame ≤ (maxlen+1)·|vocab| short strings,
    and the join key is the variant string — hot buckets are bounded by
    how many real words share a deletion, a language property
    independent of corpus size. Output: (word_a, word_b, df_a, df_b),
    df = document frequency, so the correction direction is readable
    off the row.
    """
    from mapreduceindex_spark.operators.inverted_index import doc_words

    vocab = (
        doc_words(documents)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.length("word") >= min_len)
    )
    # variants = the word itself plus word-with-char-i-deleted for
    # i in 1..len (substr with column bounds needs the SQL form)
    variants = vocab.select(
        "word",
        "df",
        F.explode(
            F.concat(
                F.array(F.col("word")),
                F.expr(
                    "transform(sequence(1, length(word)),"
                    " i -> concat(substr(word, 1, i - 1),"
                    " substr(word, i + 1)))"
                ),
            )
        ).alias("variant"),
    ).select("word", "df", "variant")
    a = variants.select(
        F.col("word").alias("word_a"),
        F.col("df").alias("df_a"),
        "variant",
    )
    b = variants.select(
        F.col("word").alias("word_b"),
        F.col("df").alias("df_b"),
        "variant",
    )
    return (
        a.join(b, "variant")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b", "df_a", "df_b")
        .distinct()
        .filter(F.levenshtein("word_a", "word_b") == 1)
        .orderBy("word_a", "word_b")
    )


def rare_token_ratio(documents: DataFrame) -> DataFrame:
    """Per-document doc-unique-vocabulary ratio: of a document's
    distinct words, how many appear in NO other document (corpus
    document-frequency 1). High ratios flag gibberish, OCR noise, and
    boilerplate serial numbers; near-zero ratios flag templated text —
    the standard tail-quality signal next to ``quality_score``.

    Scale shape: a df-1 word lives in exactly one document, so its home
    doc is ``min(doc_id)`` of the SAME aggregate that computes df — the
    rare-word census comes back keyed on doc_id with no vocabulary-wide
    join or broadcast at all (tf_idf broadcasts the full df table; this
    deliberately doesn't need to). Three key-bounded hash aggregates
    (doc-keyed, word-keyed, doc-keyed) plus one doc-keyed left join;
    the ratio is BIGINT ppm via floor division — no floats anywhere.
    """
    from mapreduceindex_spark.functions import caching

    caching.release("rare_token_ratio")
    pairs = caching.track(
        _tokens(documents)
        .filter(F.length("word") > 0)
        .select("doc_id", "word")
        .distinct()
        .persist(),
        "rare_token_ratio",
    )
    per_doc = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_words")
    )
    word_stats = pairs.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("only_doc")
    )
    rare = (
        word_stats.filter(F.col("df") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rare_words"))
    )
    out = (
        per_doc.join(rare, "doc_id", "left")
        .select(
            "doc_id",
            "n_distinct_words",
            F.coalesce(F.col("n_rare_words"), F.lit(0))
            .cast("long")
            .alias("n_rare_words"),
        )
        .select(
            "doc_id",
            "n_distinct_words",
            "n_rare_words",
            F.expr("(n_rare_words * 1000000) DIV n_distinct_words")
            .cast("long")
            .alias("rare_ppm"),
        )
        .orderBy("doc_id")
    )
    return out


def vocab_coverage(documents: DataFrame, vocab_size: int = 16) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus top-
    ``vocab_size`` vocabulary (by document frequency, ties broken by
    word) — the tokenizer-coverage readout: a source whose token mass
    falls outside the shared vocabulary will fragment into long BPE
    tails and deserves its own vocab budget or a cleanup pass. (The
    fixture corpus has a ~31-word synthetic vocabulary, so the default
    budget of 16 keeps the OOV side non-degenerate; real corpora pass
    32k+.)

    Scale shape: the vocabulary is df-ranked with one vocab-keyed
    aggregate + TakeOrdered (never a global row sort), then BROADCAST
    into the token scan — vocabulary ≪ corpus at any scale, and the
    in/out flag rides the scan stage, so the per-source readout is one
    partial-aggregated exchange on source. OOV share is BIGINT ppm via
    floor division — no floats.
    """
    toks = (
        _tokens(documents, "source")
        .filter(F.length("word") > 0)
        .select("doc_id", "source", "word")
    )
    df = (
        toks.select("doc_id", "word")
        .distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    vocab = (
        df.orderBy(F.col("df").desc(), F.col("word").asc())
        .limit(vocab_size)
        .select("word", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), 1))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000000) DIV n_tokens")
            .cast("long")
            .alias("oov_ppm"),
        )
        .orderBy("source")
    )


def token_entropy(documents: DataFrame) -> DataFrame:
    """Per-source unigram (Shannon) entropy of the word distribution in
    micro-nats — the corpus-diversity readout next to ``vocab_stats``'
    raw counts: near-zero entropy means a template farm, entropy near
    ln(vocab) means a uniform mix; mixture designers weight by it.

    Exactness: each word's contribution ``c·micro(ln(c/N))`` quantizes
    the log to tie-free integer micro-units BEFORE the per-source sum
    (the ``lm_doc_scores`` discipline — integer sums are associative,
    so any partitioning agrees), and the final ``(−Σ)/N`` is BIGINT
    floor division of non-negatives, identical on both engines. Every
    output column is BIGINT.

    Scale: one token scan → (source, word) hash aggregate; the term
    table is vocabulary×sources-bounded, the totals side is broadcast
    (source-bounded), and the final aggregate is source-keyed. No
    driver materialization.
    """
    from mapreduceindex_spark.functions.exact import micro

    toks = (
        _tokens(documents, "source")
        .filter(F.length("word") > 0)
        .select("source", "word")
    )
    counts = toks.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("_c")
    )
    totals = counts.groupBy("source").agg(
        F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_nd")
    )
    terms = counts.join(F.broadcast(totals), "source").select(
        "source",
        "_n",
        "_nd",
        (
            F.col("_c")
            * micro(
                F.log(
                    F.col("_c").cast("double") / F.col("_n").cast("double")
                )
            )
        ).alias("_contrib"),
    )
    return (
        terms.groupBy("source", "_n", "_nd")
        .agg(F.sum("_contrib").alias("_s"))
        .select(
            "source",
            F.col("_n").cast("long").alias("n_tokens"),
            F.col("_nd").cast("long").alias("n_distinct_words"),
            F.expr("(-_s) DIV _n").cast("long").alias("entropy_micro"),
        )
        .orderBy("source")
    )


def token_zipf_fit(documents: DataFrame) -> DataFrame:
    """Zipf's-law fit over the corpus word-frequency distribution: the
    least-squares slope of ln(freq) against ln(rank) — natural language
    sits near −1; templated/generated text drifts shallow, key-value
    spam drifts steep. The one-row "does this corpus look like
    language" diagnostic.

    Exactness: per-word logs are tie-free micro-quantized, the four
    regression sums are exact BIGINTs over the vocabulary, and the
    slope's closed form (V·Σxy − Σx·Σy) / (V·Σxx − Σx²) is evaluated
    as one DECIMAL(38,0) floor division (the cross-products overflow
    BIGINT somewhere past ~100k vocab; decimal carries to 1e38).
    Output is BIGINT-only: the sufficient statistics plus the slope in
    milli units, negated so the canonical Zipf value reads +1000.
    Rank's window runs over the vocabulary aggregate — dim-bounded,
    the ``customer_spend_quartiles`` justification.
    """
    from pyspark.sql.window import Window

    from mapreduceindex_spark.functions.exact import micro

    freqs = (
        _tokens(documents)
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    w = Window.orderBy(F.col("_f").desc(), F.col("word").asc())
    xy = freqs.select(
        micro(F.log(F.row_number().over(w).cast("double"))).alias("_x"),
        micro(F.log(F.col("_f").cast("double"))).alias("_y"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).alias("_v"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_x")).alias("_sxx"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num_neg = d("_sx") * d("_sy") - d("_v") * F.col("_sxy")
    den = d("_v") * F.col("_sxx") - d("_sx") * d("_sx")
    return sums.select(
        F.col("_v").cast("long").alias("n_words"),
        F.col("_sx").cast("long").alias("sx_micro"),
        F.col("_sy").cast("long").alias("sy_micro"),
        F.col("_sxy").cast("long").alias("sxy_micro2"),
        F.col("_sxx").cast("long").alias("sxx_micro2"),
        F.expr(
            "CAST(CASE WHEN _v > 1 THEN "
            "(CAST(_sx AS DECIMAL(38,0)) * _sy - CAST(_v AS DECIMAL(38,0))"
            " * _sxy) * 1000 DIV "
            "(CAST(_v AS DECIMAL(38,0)) * _sxx - CAST(_sx AS DECIMAL(38,0))"
            " * _sx) END AS BIGINT)"
        ).alias("neg_slope_milli"),
    )


def repetition_profile(documents: DataFrame) -> DataFrame:
    """Count-weighted within-document repetition (the Gopher/
    MassiveText "fraction of characters in duplicate n-grams" family):
    per doc, the fraction of word OCCURRENCES whose word repeats within
    the doc, and the fraction of 2-gram occurrences whose 2-gram
    repeats. Complements ``corpus.repetition_score`` (distinct-ngram
    dup fraction): occurrence weighting punishes heavy repeats harder —
    a doc repeating one line 50x scores ~1e6 here but only moderate
    there.

    Scale shape: two explode → (doc, term) count → per-doc fold passes
    (words and 2-grams), each one exchange keyed by doc_id with
    map-side combine; the 2-gram pass reuses ``doc_shingles``' linear
    codegen'd window form. Fractions are BIGINT ppm (count-weighted:
    a word occurring 3× contributes 3 duplicate occurrences). Docs
    with zero normalized words are excluded — no occurrences exist to
    score. Output: one BIGINT row per scoreable doc.
    """
    from mapreduceindex_spark.functions.text import words
    from mapreduceindex_spark.operators.dedup import doc_shingles

    toks = documents.select(
        "doc_id", F.explode(words(F.col("text"))).alias("_w")
    )
    wstats = (
        toks.groupBy("doc_id", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("_nw"),
            F.sum(F.when(F.col("_c") >= 2, F.col("_c")).otherwise(0)).alias(
                "_dupw"
            ),
        )
    )
    gstats = (
        doc_shingles(documents, 2, distinct=False)
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("_ng"),
            F.sum(F.when(F.col("_c") >= 2, F.col("_c")).otherwise(0)).alias(
                "_dupg"
            ),
        )
    )
    return (
        wstats.join(gstats, "doc_id")
        .select(
            "doc_id",
            F.col("_nw").cast("long").alias("n_words"),
            F.expr("(_dupw * 1000000) DIV _nw")
            .cast("long")
            .alias("dup_word_ppm"),
            F.expr("(_dupg * 1000000) DIV _ng")
            .cast("long")
            .alias("dup_2gram_ppm"),
        )
        .orderBy("doc_id")
    )


#: PII patterns, written in the regex dialect intersection (RE2 ∩ Java):
#: explicit [0-9] classes, no lookaround, no backrefs — the SAME pattern
#: text runs on both engines.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_DIGIT_RUN = r"[0-9]{6,}"


def pii_scrub_stats(documents: DataFrame) -> DataFrame:
    """PII exposure report per source — the redaction gate every
    training-data pipeline runs before release: counts of email /
    IPv4 / long-digit-run (account-number-shaped) matches, and how many
    characters a scrub would remove.

    Match counts are per class on the ORIGINAL text (a token matching
    two classes counts in both — the audit wants exposure per class,
    not a partition); ``redacted_chars`` applies the three
    ``regexp_replace`` scrubs in a FIXED order (email → ipv4 → digit
    run) so the interplay (an email's digits are gone before the digit
    pass) is deterministic and the oracle replays it verbatim. Patterns
    live in the RE2 ∩ Java dialect (explicit classes, no lookaround) so
    the identical pattern text runs on both engines.

    Scale shape: regex matching is a codegen'd JVM projection inside
    the scan stage (no Python), followed by one source-keyed aggregate
    — the same single-exchange shape as ``quality_by_source``.
    Output: one row per source, BIGINT.
    """
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), F.lit(PII_EMAIL), F.lit("")),
            F.lit(PII_IPV4),
            F.lit(""),
        ),
        F.lit(PII_DIGIT_RUN),
        F.lit(""),
    )
    per_doc = documents.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).alias("_e"),
        F.regexp_count(F.col("text"), F.lit(PII_IPV4)).alias("_i"),
        F.regexp_count(F.col("text"), F.lit(PII_DIGIT_RUN)).alias("_d"),
        (F.length("text") - F.length(scrubbed)).alias("_r"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_e").cast("long").alias("n_emails"),
            F.sum("_i").cast("long").alias("n_ipv4"),
            F.sum("_d").cast("long").alias("n_digit_runs"),
            F.sum("_r").cast("long").alias("redacted_chars"),
        )
        .orderBy("source")
    )


def top_terms_per_doc(documents: DataFrame, k: int = 3) -> DataFrame:
    """Keyword extraction: each document's ``k`` highest-TF-IDF terms —
    the per-doc summary tags a retrieval/labeling pipeline attaches,
    composed over the verified ``tf_idf`` frame (one ground truth; the
    oracle nests the tf_idf SQL verbatim and ranks it).

    Ranking is on the ROUNDED score (the exact column both engines
    already hash-match) with the ``word`` tiebreak, so rank boundaries
    are engine-deterministic. The window partitions by doc_id — the
    fact-keyed partitioning, never global.
    """
    from pyspark.sql.window import Window

    scored = tf_idf(documents)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "word", "tfidf")
        .orderBy("doc_id", "rank")
    )


def char_entropy_by_source(documents: DataFrame) -> DataFrame:
    """Per-source CHARACTER-level Shannon entropy and the
    entropy-coding size floor — the compression-planning readout next
    to ``token_entropy``'s diversity number: ``shannon_bytes_est``
    (character-entropy bound) against ``actual_bytes`` says how much a
    generic entropy coder could still squeeze out of a source tier
    before storage decisions are made.

    Same exactness discipline as ``token_entropy``: per-char
    contributions quantize the log to integer micro-nats BEFORE the
    sum; the byte floor divides the total micro-nat mass by the
    literal ``8·ln2`` in micro-units (5_545_177) — a fixed-point
    constant, identical on both engines. Characters enumerate through
    a position grid (``sequence``/``range`` + ``substring``) rather
    than an engine-specific empty-pattern split. One char scan → a
    charset×sources-bounded aggregate; empty texts contribute bytes
    but no characters.
    """
    from mapreduceindex_spark.functions.exact import micro

    chars = (
        documents.filter(F.length("text") > 0)
        .select(
            "source",
            F.explode(
                F.sequence(F.lit(1), F.length("text"))
            ).alias("_i"),
            "text",
        )
        .select("source", F.expr("substring(text, _i, 1)").alias("ch"))
    )
    counts = chars.groupBy("source", "ch").agg(
        F.count(F.lit(1)).alias("_c")
    )
    totals = counts.groupBy("source").agg(
        F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_nd")
    )
    terms = counts.join(F.broadcast(totals), "source").select(
        "source",
        "_n",
        "_nd",
        (
            F.col("_c")
            * micro(
                F.log(
                    F.col("_c").cast("double") / F.col("_n").cast("double")
                )
            )
        ).alias("_contrib"),
    )
    ent = terms.groupBy("source", "_n", "_nd").agg(
        F.sum("_contrib").alias("_s")
    )
    bytes_per_source = documents.groupBy("source").agg(
        F.sum(F.octet_length("text")).alias("_b")
    )
    return (
        ent.join(bytes_per_source, "source")
        .select(
            "source",
            F.col("_n").cast("long").alias("n_chars"),
            F.col("_nd").cast("long").alias("n_distinct_chars"),
            F.expr("(-_s) DIV _n").cast("long").alias(
                "char_entropy_micro"
            ),
            # 5_545_177 = floor(8 * ln(2) * 1e6): micro-nats per byte
            F.expr("(-_s) DIV 5545177").cast("long").alias(
                "shannon_bytes_est"
            ),
            F.col("_b").cast("long").alias("actual_bytes"),
        )
        .orderBy("source")
    )


#: Symbol-sequence delimiter for the BPE trainer's string representation.
#: Normalized words are ``[a-z]+`` only (functions.text.words), so the
#: unit-separator control char can never collide with symbol content.
BPE_SEP = "\x1f"


def _bpe_word_freqs(documents: DataFrame) -> DataFrame:
    """(word, freq, seq): the vocabulary-compressed BPE training base.

    Classic Sennrich-style BPE never iterates over the corpus — it
    iterates over the DISTINCT-word frequency table (vocabulary-bounded:
    ~1e7 rows at 100 TB vs ~1e12 token rows), with each word's symbol
    sequence weighted by its corpus frequency. ``seq`` encodes the
    sequence as a delimited string where every symbol is wrapped as
    ``<SEP>sym<SEP>``: the greedy left-to-right non-overlapping BPE
    merge is then EXACTLY one engine-native ``replace(seq,
    <SEP>l<SEP><SEP>r<SEP>, <SEP>lr<SEP>)`` — Java's and DuckDB's
    ``replace`` both continue scanning AFTER the inserted replacement,
    which is precisely the greedy non-overlap rule (``aaaaa`` with pair
    (a,a) → ``aa aa a``), so both engines replay the identical merge.
    """
    from mapreduceindex_spark.functions.text import words

    return (
        documents.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .withColumn(
            "seq",
            F.regexp_replace("word", "(.)", f"{BPE_SEP}$1{BPE_SEP}"),
        )
    )


def _bpe_pair_counts(w: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts (l, r, cnt) over a (freq, seq) frame,
    weighted by word frequency — the per-iteration aggregate."""
    arr = F.filter(
        F.split("seq", BPE_SEP), lambda x: x != F.lit("")
    )
    pairs = w.select(F.col("freq"), arr.alias("_arr")).select(
        "freq",
        F.explode(
            F.when(
                F.size("_arr") >= 2,
                F.expr(
                    "transform(slice(_arr, 1, size(_arr) - 1), "
                    "(s, i) -> struct(s AS l, element_at(_arr, i + 2) AS r))"
                ),
            ).otherwise(
                F.expr("cast(array() as array<struct<l:string,r:string>>)")
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.l", "p.r").agg(
        F.sum("freq").cast("long").alias("cnt")
    )


def _bpe_fit(documents: DataFrame, num_merges: int):
    """Run the distributed BPE training loop; return (merges, final_w).

    ``merges`` is a list of (rank, l, r, cnt); ``final_w`` the
    (word, freq, seq) frame after all merges applied. Iteration
    discipline (the ``kmeans_embeddings`` / ``token_pagerank`` model):
    the vocabulary base persists ONCE; each iteration is one
    vocab-bounded pair aggregate + a single-ROW argmax collect (cnt
    desc, then (l, r) lexicographic — the deterministic tie-break both
    engines share for ASCII), and the chosen merge re-enters the plan
    as literal columns, never data-dependent SQL text. Lineage depth
    grows one codegen'd ``replace`` per iteration over the persisted
    base — K·vocab string work total per action, no corpus re-scan.
    """
    from pyspark import StorageLevel

    from mapreduceindex_spark.functions import caching

    caching.release("bpe_train")
    w = caching.track(
        _bpe_word_freqs(documents).persist(StorageLevel.MEMORY_AND_DISK),
        "bpe_train",
    )
    merges = []
    for rank in range(1, int(num_merges) + 1):
        best = (
            _bpe_pair_counts(w)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((rank, l, r, cnt))
        w = w.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f"{BPE_SEP}{l}{BPE_SEP}{BPE_SEP}{r}{BPE_SEP}"),
                F.lit(f"{BPE_SEP}{l}{r}{BPE_SEP}"),
            ),
        )
    return merges, w


def bpe_train(documents: DataFrame, num_merges: int = 8) -> DataFrame:
    """Distributed BPE tokenizer TRAINING: learn the top-``num_merges``
    merge rules from the corpus — the step a training-data pipeline
    runs before anything else tokenizes. Output: one row per learned
    merge, (merge_rank, left_sym, right_sym, merged, pair_count),
    in merge order.

    Algorithm: iterated pair-count → argmax → re-segment over the
    frequency-weighted distinct-word table (see ``_bpe_word_freqs`` for
    the vocabulary-compression and string-encoded greedy-merge design).
    Integer-exact throughout (counts only), so the DuckDB oracle — the
    same K iterations unrolled as CTEs — matches bit-for-bit, the
    ``kmeans_embeddings``/``token_pagerank`` iterative-algorithm
    discipline. Stops early when no adjacent pair remains.

    Scale shape: one corpus scan (word counts), then K iterations over
    the vocabulary-bounded persisted base: each is a map-side-combined
    pair aggregate (≤ vocab·avg_len rows in, pair-vocab rows out) and a
    1-row collect; the merge rule re-enters as a broadcast literal.
    """
    merges, w = _bpe_fit(documents, num_merges)
    spark = documents.sparkSession
    return spark.createDataFrame(
        [(rk, l, r, l + r, cnt) for rk, l, r, cnt in merges],
        "merge_rank bigint, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    ).orderBy("merge_rank")


def bpe_fertility_learned(
    documents: DataFrame, num_merges: int = 8
) -> DataFrame:
    """Tokenizer-fertility readout over the vocabulary the corpus ITSELF
    learned (``bpe_train``'s merges applied to every word), closing the
    train→measure loop: tokens-per-word and tokens-per-char in exact
    BIGINT micro units, one corpus-level row. The untrained twin
    (``tokenizer_fertility``) measures the fixed regex pre-tokenizer;
    the gap between the two is what the learned merges buy.

    n_words / n_chars / n_tokens weight each distinct word by its corpus
    frequency, so the readout equals a full-corpus re-segmentation
    without re-scanning the corpus (the ``_bpe_word_freqs`` compression
    argument).
    """
    _merges, w = _bpe_fit(documents, num_merges)
    arr = F.filter(F.split("seq", BPE_SEP), lambda x: x != F.lit(""))
    agg = w.select(
        "freq",
        F.length("word").cast("long").alias("_len"),
        F.size(arr).cast("long").alias("_syms"),
    ).agg(
        # coalesce: an empty corpus reports zeros, not NULLs (both
        # engines — the oracle coalesces identically)
        F.coalesce(F.sum("freq"), F.lit(0)).cast("long").alias("n_words"),
        F.coalesce(F.sum(F.col("freq") * F.col("_len")), F.lit(0))
        .cast("long")
        .alias("n_chars"),
        F.coalesce(F.sum(F.col("freq") * F.col("_syms")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    return agg.select(
        "n_words",
        "n_chars",
        "n_tokens",
        F.when(
            F.col("n_words") > 0,
            F.expr("CAST(n_tokens * 1000000 DIV n_words AS BIGINT)"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("tokens_per_word_micro"),
        F.when(
            F.col("n_chars") > 0,
            F.expr("CAST(n_tokens * 1000000 DIV n_chars AS BIGINT)"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("tokens_per_char_micro"),
    )


def token_burstiness(documents: DataFrame, top_k: int = 50) -> DataFrame:
    """Per-word burstiness: how much a word CLUMPS into few documents
    versus spreading evenly — the dispersion screen separating topical
    content words (bursty: high within-doc counts, low df) from
    function words (uniform), the signal behind stopword induction and
    tokenizer-vocabulary design (``token_zipf_fit`` ranks by mass; this
    ranks by clumping).

    Statistic (integer-born, no division): the variance-to-mean
    NUMERATOR over per-document counts with zeros included —
    ``disp = N·Σc² − (Σc)²`` where the sum runs over the word's
    per-doc counts c and N is the CORPUS doc count (absent docs
    contribute c = 0, exactly — they add nothing to either sum but
    scale the N factor). Uniform words have disp ≈ Poisson baseline;
    bursty words blow past it. Emitted with the exact sufficient
    statistics so the caller can form any normalized index; ranking is
    (disp DESC, word ASC) over the top ``top_k``.

    Scale shape: one token pass → one (doc, word) count aggregate →
    one word-keyed aggregate carrying 3 BIGINTs; the corpus doc count
    is a broadcast scalar. Overflow bounds: |c| ≤ doc length (~1e4),
    c² ≤ 1e8, and N·Σc² stays in BIGINT to ~1e9 docs × 1e6 word mass —
    the DECIMAL(38,0) swap is the documented escape past that.

    Output: (word, df, n_occ, sum_c2, disp), (disp DESC, word ASC).
    """
    from mapreduceindex_spark.functions.text import words

    base = documents.select("doc_id", words(F.col("text")).alias("ws"))
    toks = base.select("doc_id", F.explode("ws").alias("w"))
    per_doc = toks.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    n_docs = documents.select(
        F.countDistinct("doc_id").alias("_nd")
    )
    stats = per_doc.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("n_occ"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select(
            F.col("w").alias("word"),
            "df",
            "n_occ",
            "sum_c2",
            (F.col("_nd") * F.col("sum_c2") - F.col("n_occ") * F.col("n_occ"))
            .cast("long")
            .alias("disp"),
        )
        .orderBy(F.col("disp").desc(), F.col("word").asc())
        .limit(top_k)
    )


def vocab_pruning_report(
    documents: DataFrame,
    min_dfs: tuple = (1, 2, 5, 10),
    max_df_ppm: int = 800_000,
) -> DataFrame:
    """Vocabulary-pruning sweep: for each candidate ``min_df`` floor
    (with one shared ``max_df_ppm`` ceiling — words in more than that
    share of documents are function-word noise), report the vocabulary
    and token mass RETAINED — the table a tokenizer/feature designer
    reads before fixing df cutoffs, the vocabulary-side companion of
    ``truncation_loss_report`` (sequence budget) and
    ``near_dup_threshold_curve`` (dedup threshold).

    One pass builds per-word (df, n_occ); the sweep is a broadcast
    cross against the |min_dfs|-row frame over the VOCABULARY frame
    (never the corpus — the ``bigram_lift`` "vocabulary ≪ corpus"
    bound), zero-filled. Shares are floored BIGINT ppm of the
    unpruned totals; the ceiling compares df·10⁶ against
    n_docs·max_df_ppm in integers (no ratio ever materializes).

    Output: (min_df, n_words_kept, n_occ_kept, words_share_ppm,
    occ_share_ppm), ordered by min_df.
    """
    from mapreduceindex_spark.functions.text import words

    base = documents.select("doc_id", words(F.col("text")).alias("ws"))
    toks = base.select("doc_id", F.explode("ws").alias("w"))
    per_word = (
        toks.groupBy("w")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("df"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
    )
    n_docs = documents.select(
        F.countDistinct("doc_id").cast("long").alias("_nd")
    )
    totals = per_word.agg(
        F.count(F.lit(1)).cast("long").alias("_tw"),
        F.sum("n_occ").cast("long").alias("_to"),
    )
    spark = documents.sparkSession
    mdf = spark.createDataFrame(
        [(int(m),) for m in min_dfs], "min_df long"
    )
    kept = (
        per_word.join(F.broadcast(n_docs))
        .join(F.broadcast(mdf))
        .filter(
            (F.col("df") >= F.col("min_df"))
            & (F.col("df") * 1_000_000 <= F.col("_nd") * max_df_ppm)
        )
        .groupBy("min_df")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words_kept"),
            F.sum("n_occ").cast("long").alias("n_occ_kept"),
        )
    )
    return (
        mdf.join(kept, "min_df", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "min_df",
            F.coalesce("n_words_kept", F.lit(0)).cast("long").alias(
                "n_words_kept"
            ),
            F.coalesce("n_occ_kept", F.lit(0)).cast("long").alias(
                "n_occ_kept"
            ),
            F.expr("(coalesce(n_words_kept, 0) * 1000000) DIV _tw")
            .cast("long")
            .alias("words_share_ppm"),
            F.expr("(coalesce(n_occ_kept, 0) * 1000000) DIV _to")
            .cast("long")
            .alias("occ_share_ppm"),
        )
        .orderBy("min_df")
    )


def vocab_growth_curve(
    documents: DataFrame, bucket_docs: int = 100
) -> DataFrame:
    """Vocabulary growth along ingestion order (Heaps'-law readout):
    cumulative distinct-word count after each ``bucket_docs``-document
    prefix of the corpus in doc_id order — the curve that decides
    whether a tokenizer's vocab budget has saturated or the crawl is
    still discovering words (sub-linear growth = saturating; linear =
    the corpus keeps bringing new vocabulary, or the cleaning is
    letting noise through).

    Exact and one-pass: a word contributes to the bucket of its FIRST
    occurrence (min doc_id over the word's postings — one word-keyed
    aggregate, the same exchange ``word_counts`` pays), buckets then
    cumulative-sum over the bucket-cardinality frame. No per-prefix
    rescans — the naive "count distinct per prefix" is quadratic and
    the oracle doesn't run it either. The cumsum window is global by
    construction (a running total IS sequential): size ``bucket_docs``
    so the curve stays plot-sized (~10³ points — it's a human readout;
    at 1e9 docs pass bucket_docs=1e6), which keeps that window frame
    metadata-bounded at any corpus size.

    Output: (bucket, docs_through, new_words, cum_vocab), bucket order;
    ``docs_through`` = the doc_id ceiling the bucket summarizes.
    """
    from pyspark.sql.window import Window

    from mapreduceindex_spark.functions.text import words

    base = documents.select("doc_id", words(F.col("text")).alias("ws"))
    toks = base.select("doc_id", F.explode("ws").alias("w"))
    first = toks.groupBy("w").agg(F.min("doc_id").alias("_fd"))
    per_bucket = first.groupBy(
        F.expr(f"CAST(_fd AS BIGINT) DIV {int(bucket_docs)}").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("new_words"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        "bucket",
        ((F.col("bucket") + 1) * bucket_docs - 1).cast("long").alias(
            "docs_through"
        ),
        "new_words",
        F.sum("new_words").over(w).cast("long").alias("cum_vocab"),
    ).orderBy("bucket")


def readability_scores(documents: DataFrame) -> DataFrame:
    """Per-source readability profile — the corpus-curation signal that
    complements ``quality_score`` (junk detection) and ``lm_doc_scores``
    (model fit): HOW HARD is each source's prose, via the two classic
    readability inputs, words-per-sentence and syllables-per-word.
    Syllables use the standard vowel-group proxy (maximal ``[aeiou]+``
    runs in the lowercased text); sentences are maximal ``[.!?]+`` runs.
    Both are counted with ``regexp_extract_all`` over patterns in the
    RE2∩Java common subset (the ``pii_scrub_stats`` discipline), so the
    DuckDB oracle counts the identical runs.

    Exactness: all counts are BIGINT; the two ratios are floored
    integer ppm (``DIV``), zero-guarded for sources whose documents
    carry no sentence punctuation.

    Scale shape: one document scan computing three per-doc integers
    (two regexp passes + the shared normalized-word count), then ONE
    per-source hash aggregate — map-side combinable, output is
    |sources| rows.

    Output: (source, n_docs, n_words, n_sentences, n_vowel_groups,
    words_per_sentence_ppm, syllables_per_word_ppm), ordered.
    """
    from mapreduceindex_spark.functions.text import words

    per_doc = documents.select(
        "source",
        F.size(words(F.col("text"))).cast("long").alias("_w"),
        F.size(
            F.expr("regexp_extract_all(text, '[.!?]+', 0)")
        ).cast("long").alias("_s"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")
        ).cast("long").alias("_v"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_w").cast("long").alias("n_words"),
            F.sum("_s").cast("long").alias("n_sentences"),
            F.sum("_v").cast("long").alias("n_vowel_groups"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_sentences",
            "n_vowel_groups",
            F.expr(
                "CASE WHEN n_sentences = 0 THEN 0 "
                "ELSE n_words * 1000000 DIV n_sentences END"
            ).cast("long").alias("words_per_sentence_ppm"),
            F.expr(
                "CASE WHEN n_words = 0 THEN 0 "
                "ELSE n_vowel_groups * 1000000 DIV n_words END"
            ).cast("long").alias("syllables_per_word_ppm"),
        )
        .orderBy("source")
    )


def ranker_agreement(documents: DataFrame) -> DataFrame:
    """Rank agreement (Spearman) between two independent document-
    quality signals — lexical DIVERSITY (distinct-word ratio, ppm) vs
    character CLEANLINESS (alpha-char ratio, ppm) — the calibration a
    curation pipeline runs before stacking filters: two rankers that
    agree are redundant; two that disagree gate different documents
    and both earn their compute.

    Exactness: signals are floored ppm integers; ranks are the exact
    DOUBLED average ranks (``2·rank + ties − 1`` — the tie group's
    min-rank plus its size keeps the tie-averaged rank integral at 2×
    scale, no fractional rank anywhere); Σd² is over the doubled-rank
    differences (4× the classic Σd²). rho_ppm applies the classic
    ``1 − 6Σd²/(n(n²−1))`` form (documented no-ties approximation) in
    floored BIGINT — the denominator pre-scales by 1e6 above n = 1000
    so the product never overflows int64 up to ~50k docs (the
    jl_distortion_report headroom discipline; both engines take the
    same branch).

    Scale shape: one token aggregate (the only data-scale exchange);
    the ranks are NOT a global sort of the corpus — each signal's
    doubled average rank is derived from its VALUE HISTOGRAM
    (2·c_below + cnt + 1 ≡ the tie-averaged 2·rank + ties − 1, since
    the tie group's min rank is c_below + 1), so the only unbounded
    window runs over the ≤ 1e6-row ppm-value histogram (the
    ``quality_reliability_curve`` rank-offset discipline) and the
    per-doc attachment is a broadcast value join, then one scalar
    fold. Output: ONE row (n_docs, sum_d2_x4, rho_ppm).
    """
    from pyspark.sql.window import Window

    from mapreduceindex_spark.functions.text import words

    base = documents.select(
        "doc_id",
        F.length("text").alias("_nc"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias("_na"),
        words(F.col("text")).alias("_ws"),
    ).select(
        "doc_id",
        F.expr(
            "CASE WHEN _nc > 0 THEN _na * 1000000 DIV _nc ELSE 0 END"
        ).alias("_clean"),
        F.expr(
            "CASE WHEN size(_ws) > 0 THEN "
            "size(array_distinct(_ws)) * 1000000 DIV size(_ws) "
            "ELSE 0 END"
        ).alias("_div"),
    )
    def _dbl_rank_map(col: str, out: str):
        hist = base.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return hist.select(
            col,
            (
                2 * (F.sum("cnt").over(w) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(out),
        )

    ranked = base.join(
        F.broadcast(_dbl_rank_map("_div", "_ra")), "_div"
    ).join(F.broadcast(_dbl_rank_map("_clean", "_rb")), "_clean")
    d2 = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("_ra") - F.col("_rb")) * (F.col("_ra") - F.col("_rb")))
        .cast("long")
        .alias("sum_d2_x4"),
    )
    rho = (
        "CASE WHEN n_docs < 2 THEN CAST(1000000 AS BIGINT) "
        "WHEN n_docs < 1000 THEN CAST(1000000 - "
        "(6 * sum_d2_x4 * 1000000) DIV (4 * n_docs * (n_docs * n_docs - 1)) "
        "AS BIGINT) "
        "ELSE CAST(1000000 - (6 * sum_d2_x4) DIV "
        "((4 * n_docs * (n_docs * n_docs - 1)) DIV 1000000) AS BIGINT) END"
    )
    return d2.select("n_docs", "sum_d2_x4", F.expr(rho).alias("rho_ppm"))


def ranker_agreement_oracle_sql(words_sql: str) -> str:
    """DuckDB twin of :func:`ranker_agreement` — identical ppm
    signals, doubled average ranks, and branch-identical rho."""
    return f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS nc,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS na,
         {words_sql} AS ws
  FROM documents
), sig AS (
  SELECT doc_id,
         CASE WHEN nc > 0 THEN na * 1000000 // nc ELSE 0 END AS clean,
         CASE WHEN len(ws) > 0
              THEN len(list_distinct(ws)) * 1000000 // len(ws)
              ELSE 0 END AS div
  FROM base
), ranked AS (
  SELECT doc_id,
         2 * rank() OVER (ORDER BY div)
           + count(*) OVER (PARTITION BY div) - 1 AS ra,
         2 * rank() OVER (ORDER BY clean)
           + count(*) OVER (PARTITION BY clean) - 1 AS rb
  FROM sig
), d2 AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum((ra - rb) * (ra - rb))::BIGINT AS sum_d2_x4
  FROM ranked
)
SELECT n_docs, sum_d2_x4,
       CASE WHEN n_docs < 2 THEN CAST(1000000 AS BIGINT)
            WHEN n_docs < 1000 THEN CAST(1000000 -
              (6 * sum_d2_x4 * 1000000)
                // (4 * n_docs * (n_docs * n_docs - 1)) AS BIGINT)
            ELSE CAST(1000000 - (6 * sum_d2_x4)
              // ((4 * n_docs * (n_docs * n_docs - 1)) // 1000000)
              AS BIGINT) END AS rho_ppm
FROM d2
"""


def _winnow_fps(documents: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """Shared winnowing front end: the selected fingerprint set
    (doc_id, n_grams, h, pos) under the robust-winnowing rule — in
    every window of ``w`` consecutive k-gram hashes, keep the RIGHTMOST
    minimal hash (Schleimer, Wilkerson, Aiken, "Winnowing: local
    algorithms for document fingerprinting", SIGMOD'03 — the MOSS
    algorithm). Guarantee: any shared token run of length ≥ w+k-1
    between two documents contributes at least one shared fingerprint.

    Plan: ``functions.text.word_ngrams`` builds full k-grams (one
    window exchange, codegen'd), each gram
    fans out to its ≤ w covering windows (a bounded ×w explode of the
    gram frame, not of the corpus text), and the per-window pick is ONE
    aggregate — min(struct(h, -pos)) selects the min hash with the
    rightmost position, no second window pass. Adjacent windows that
    pick the same (h, pos) collapse in the final distinct.

    Memoized via ``caching.memo`` keyed on the input plan's semantic
    hash + (k, w) — the census (``winnowing_fingerprints``) and the
    overlap scan (``winnowing_overlap``) both start from exactly this
    frame, and the gram window + ×w fanout behind it dominated each
    separately. One live cache set.
    """
    from pyspark.storagelevel import StorageLevel

    from mapreduceindex_spark.functions import caching

    fingerprint = f"{caching.plan_fingerprint(documents)}|{k}|{w}"

    def _build() -> list:
        return [
            _winnow_fps_plan(documents, k, w).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        ]

    return caching.memo("winnow_fps", fingerprint, _build)[0]


def _winnow_fps_plan(documents: DataFrame, k: int, w: int) -> DataFrame:
    """The raw (unmemoized) plan behind :func:`_winnow_fps`."""
    from mapreduceindex_spark.functions.spread import spread_rows
    from mapreduceindex_spark.functions.text import (
        stable_hash64,
        word_ngrams,
        word_rows,
    )

    grams = word_ngrams(word_rows(spread_rows(documents, "doc_id")), k).select(
        "doc_id",
        (F.col("nw") - k + 1).cast("long").alias("n_grams"),
        F.col("pos").cast("long").alias("pos"),
        stable_hash64("ng").alias("h"),
    )
    fan = grams.select(
        "doc_id",
        "n_grams",
        "pos",
        "h",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0).cast("long"), F.col("pos") - (w - 1)),
                F.col("pos"),
            )
        ).alias("win_start"),
    ).filter(F.col("win_start") <= F.col("n_grams") - w)
    chosen = fan.groupBy("doc_id", "n_grams", "win_start").agg(
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).alias("c")
    )
    return chosen.select(
        "doc_id",
        "n_grams",
        F.col("c.h").alias("h"),
        (-F.col("c.np")).alias("pos"),
    ).distinct()


def winnowing_fingerprints(
    documents: DataFrame, k: int = 3, w: int = 4
) -> DataFrame:
    """Per-document winnowing fingerprint census: (doc_id, n_grams,
    n_windows, n_fp, density_ppm), ordered by doc_id — only documents
    with at least one full window (≥ w+k-1 words) appear.

    ``density_ppm`` is the realized selection density n_fp/n_windows in
    floored ppm; the paper's expected density for robust winnowing is
    2/(w+1), so the column doubles as a sanity gauge on real corpora.
    The fingerprint SET (not this census) is what a contamination /
    plagiarism scan stores per shard at 100 TB — it is ~2/(w+1) the
    gram count, mergeable, and local (no cross-doc state).
    """
    fps = _winnow_fps(documents, k, w)
    return (
        fps.groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_fp"))
        .select(
            "doc_id",
            "n_grams",
            (F.col("n_grams") - w + 1).alias("n_windows"),
            "n_fp",
            F.expr(f"n_fp * 1000000L DIV (n_grams - {w - 1})").alias(
                "density_ppm"
            ),
        )
        .orderBy("doc_id")
    )


def winnowing_overlap(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    max_df: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints: (doc_a, doc_b,
    n_shared), doc_a < doc_b, n_shared ≥ ``min_shared``, ordered by
    (n_shared desc, doc_a, doc_b) — the MOSS overlap report, i.e. the
    substring-level contamination scan that n-gram Jaccard (bag
    semantics) and minhash (set sketch) both approximate from above.

    Scale shape: the pair search is a self-join BUCKETED BY FINGERPRINT
    HASH, with ubiquitous fingerprints (document frequency > ``max_df``
    — boilerplate the way hot shingles are) dropped before the join:
    the same df-cap discipline as ``ngram_jaccard_pairs``, so the join
    cost is Σ C(df, 2) over surviving hashes, never corpus².
    Fingerprints appearing in only one document cannot form a pair and
    are dropped by the same census.
    """
    fp = _winnow_fps(documents, k, w).select("doc_id", "h").distinct()
    census = fp.groupBy("h").agg(F.count(F.lit(1)).alias("dfh"))
    keep = census.filter(
        (F.col("dfh") >= 2) & (F.col("dfh") <= max_df)
    ).select("h")
    flt = fp.join(keep, "h")
    pairs = (
        flt.alias("a")
        .join(
            flt.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs.orderBy(F.col("n_shared").desc(), "doc_a", "doc_b")


def kneser_ney_bigram(documents: DataFrame, top_k: int = 50) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities for the corpus's
    most frequent bigrams — the language-model smoothing that actually
    ships (Kneser & Ney, ICASSP'95; Chen & Goodman '99 empirical
    study): absolute discount D = 3/4 on the bigram count, with the
    stolen mass backed off to the CONTINUATION unigram (in how many
    distinct left contexts does w2 appear?) instead of the raw
    frequency — the fix that stops "francisco" (frequent but only ever
    after "san") from stealing probability in new contexts. The
    smoothing layer ``lm_doc_scores``'s add-one model lacks.

    Exactness: with D = 3/4 everything is rational over known
    denominators, so the whole interpolated probability collapses to
    ONE floored division both engines share:

        p_kn = [max(4·c12 − 3, 0) · Ntot + 3 · N1(w1) · Ncont(w2)]
               / (4 · c1 · Ntot)          (micro = ·1e6, floored)

    where c1 = Σ_w2 c(w1 w2), N1(w1) = |{w2 : c(w1 w2) > 0}|,
    Ncont(w2) = |{w1 : c(w1 w2) > 0}|, Ntot = |distinct bigram types|.
    The numerator product runs in DECIMAL(38,0)/HUGEINT (the
    ``price_qty_regression`` discipline) — int64 would overflow near
    c12 · Ntot ≈ 9e12.

    Plan: ONE ``word_rows`` + lead pass builds the bigram count frame
    (the ``bigram_lift`` plan); left/continuation/type censuses are
    three aggregates OVER THAT FRAME (vocabulary-bounded, never a
    second corpus scan); top-k by (c12 desc, w1, w2) cuts to ``top_k``
    rows before the broadcast joins.

    Columns: (w1, w2, c12, c1, n1_w1, ncont_w2, ntot, p_kn_micro),
    ordered by (c12 desc, w1, w2).
    """
    from pyspark.sql.window import Window

    from mapreduceindex_spark.functions.text import word_rows

    win = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        word_rows(documents).select(
            "nw",
            "pos",
            F.col("w").alias("w1"),
            F.lead("w", 1).over(win).alias("w2"),
        )
        .filter(F.col("pos") <= F.col("nw") - 2)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    from mapreduceindex_spark.functions import caching

    caching.release("kneser_ney_bigram")
    big = caching.track(big.persist(), "kneser_ney_bigram")
    left = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).alias("n1_w1"),
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont_w2"))
    ntot = big.agg(F.count(F.lit(1)).alias("ntot"))
    top = big.orderBy(
        F.col("c12").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)
    return (
        top.join(F.broadcast(left), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(ntot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            "c1",
            F.col("n1_w1").cast("long").alias("n1_w1"),
            F.col("ncont_w2").cast("long").alias("ncont_w2"),
            F.col("ntot").cast("long").alias("ntot"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * (greatest(4 * c12 - 3, 0) * CAST(ntot AS DECIMAL(38,0))"
                "    + 3 * CAST(n1_w1 AS DECIMAL(38,0)) * ncont_w2))"
                " DIV (CAST(4 AS DECIMAL(38,0)) * c1 * ntot) AS BIGINT)"
            ).alias("p_kn_micro"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
    )
