"""Structured Streaming forms of the event-time operators.

Same column expressions as ``operators/events.py`` — the batch and
streaming paths share semantics by construction. The file-source +
memory-sink harness below runs a finite parquet directory through the
streaming engine synchronously (``processAllAvailable``), which is the
standard way to correctness-test streaming plans; in production the
source line changes to Kafka and the sink to a real table, nothing else
moves.

Watermarks: the batch fixtures are bounded, so results equal the batch
aggregation exactly; with a real unbounded source the same watermark
bounds state eviction.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.

    Normalize the event-time column to a plain TIMESTAMP exactly like the
    batch loader (``session.load_table``) so batch and streaming results
    stay comparable: BIGINT nanos (under ``nanosAsLong``) truncate to
    micros; TIMESTAMP_NTZ (micros, isAdjustedToUTC=false) casts in the
    UTC session zone. ``withWatermark`` requires TIMESTAMP — NTZ is
    rejected — so this normalization is load-bearing here, not cosmetic.
    """
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file stream source takes a directory; glob-filter to the events
    # table within the fixture dir.
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream



def _py_state_partitions(spark: SparkSession) -> int:
    """Partition count for the Python-stateful stages
    (``applyInPandasWithState`` / ``transformWithStateInPandas``): the
    bottleneck is the Python group loop across workers (the first_seen
    measurement), so track the session's core count instead of a
    local[32]-tuned constant, capped at 16 — measured at sf0.1, 32
    partitions is SLOWER than 8-16 (more Arrow round trips and state
    store instances than there is work), and the former hard 16 made
    the driver's low-core bench pay 16 state stores on an 8-core box."""
    return min(spark.sparkContext.defaultParallelism, 16)

def _run_to_table(
    agg: DataFrame,
    mode: str = "complete",
    partitions: int = 4,
    checkpoint_dir: str | None = None,
    no_data_batches: bool = False,
) -> DataFrame:
    """Drive a finite streaming aggregation to completion into a memory
    sink; return the materialized result as a batch DataFrame.

    Streaming state is partitioned by ``spark.sql.shuffle.partitions`` at
    query start; a fixture-scale stream with a handful of keys pays per-
    state-store overhead, so the partition count is pinned low for the
    run and restored afterwards (a real deployment sizes it to key
    cardinality once — it is frozen into the checkpoint). Operators whose
    per-partition work is a *Python* stage (``applyInPandasWithState``)
    pass a higher ``partitions``: there the bottleneck is group-loop
    execution across Python workers, not state-store count (measured on
    first_seen at sf0.1: 3.1 s @ 4 partitions → 1.7 s @ 16).
    """
    spark = agg.sparkSession
    name = "s" + uuid.uuid4().hex[:12]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    # No-data micro-batches exist to advance the watermark so *eviction*
    # and append-mode window finalization make progress on a quiet
    # source. Every operator driven through this harness emits its rows
    # in the data batch itself (complete-mode aggs; the stateful dedup
    # and the stream-stream inner join both emit on arrival), so the
    # trailing empty batches are pure overhead on a drained finite
    # source — measured ~1.4 s of the range join's 3.4 s. A deployment
    # that relies on watermark-driven emission (append-mode windowed
    # aggs) must leave this on — operators in that class here pass
    # no_data_batches=True (the outer join's NULL-completion fires in
    # the trailing empty batch; without it the rows never emit).
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batches else "false",
    )
    try:
        # availableNow: drain everything already in the source, then stop
        # on our own — one trigger cycle instead of processAllAvailable's
        # poll-until-idle loop (which costs extra no-data micro-batches
        # plus polling latency on a finite source). Result-identical on
        # bounded input; an unbounded deployment swaps the trigger line.
        writer = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
        )
        # Durable restart point: with a checkpoint the SAME query can be
        # stopped and relaunched and will recover its state store +
        # processed-file log instead of recomputing — the property
        # tests/test_streaming_recovery.py pins. The default in-memory
        # harness skips it (each correctness run is a fresh query).
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )
    # Unload the finished query's state-store providers and their
    # maintenance threads. Every harness query starts from a fresh
    # checkpoint, so no later query ever reuses these providers — left
    # loaded they only accumulate (measured: 165 → 431 live JVM threads
    # over 12 runs without this, flat at +2/run with it; the r09 bench
    # saw late-session streaming medians degrade ~8× from exactly this
    # residue). A restart-from-checkpoint reloads its providers from
    # disk, so recovery semantics are untouched
    # (tests/test_streaming_recovery.py stays green).
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # non-classic session: nothing to unload
    return spark.table(name)


def streaming_tumbling_counts(
    spark: SparkSession, sf_dir: str, width_sec: int = 600
) -> DataFrame:
    """Streaming tumbling-window counts — semantically identical to
    ``operators.events.tumbling_counts`` (the oracle is the same SQL)."""
    events = _stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", f"{width_sec} seconds").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal sum — deterministic across trigger/partition
            # splits, unlike a float sum (same rationale as the batch form)
            F.sum(F.col("value").cast("decimal(15,2)")).alias("_sum_value"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.unix_timestamp("w.start").alias("window_start"),
        "event_type",
        "n_events",
        F.round("_sum_value", 4).cast("double").alias("sum_value"),
    ).orderBy("window_start", "event_type")


def streaming_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline as a stream: incremental inverted indexing.

    The reference consumes files incrementally from a shared queue
    (``mapper.c:20-31``) — this is that idea taken to its real conclusion:
    documents arrive as a stream, and the word → sorted-postings index
    maintains itself. Tokenize/normalize are the exact batch expressions;
    the stateful step is a streaming ``collect_set`` per word (complete
    mode). On the bounded fixture the result equals the batch flagship
    bit-for-bit, so it shares the batch oracle SQL.
    """
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    from mapreduceindex_spark.functions.text import token_rows

    pairs = (
        token_rows(stream)
        .select("doc_id", "word")
        .filter(F.length("word") > 0)
    )
    agg = pairs.groupBy("word").agg(
        F.sort_array(F.collect_set("doc_id")).alias("_ids")
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        "word",
        F.size("_ids").cast("long").alias("df"),
        F.array_join(
            F.transform(F.col("_ids"), lambda x: x.cast("string")), " "
        ).alias("doc_ids"),
    ).orderBy(F.col("df").desc(), F.col("word").asc())


def streaming_first_seen_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user first-seen dedup of event types.

    Emits each (user_id, event_type) pair exactly once — on the first
    micro-batch where it arrives, stamped with the earliest event time in
    that batch. The per-user state is the set of already-emitted types, so
    re-arrivals in later batches are suppressed; this is the canonical
    "streaming exact-dedup" building block whose state grows with key
    cardinality, not stream length. On a bounded in-order source (the
    fixture: one file, one batch) the emitted timestamp equals the global
    per-pair minimum, which is what the batch oracle checks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = _stream_events(spark, sf_dir).select("user_id", "event_type", "ts")

    def _first_seen(key, pdfs, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        # Accumulate mins across ALL Arrow chunks of the micro-batch before
        # emitting: a group larger than maxRecordsPerBatch arrives as
        # several chunks in scan order, and the true batch minimum may sit
        # in a later chunk.
        mins: dict = {}
        for pdf in pdfs:
            for et, ts in pdf.groupby("event_type")["ts"].min().items():
                if et not in seen and (et not in mins or ts < mins[et]):
                    mins[et] = ts
        rows = [
            (key[0], et, int(pd.Timestamp(ts).value // 1_000_000_000))
            for et, ts in mins.items()
        ]
        seen.update(mins)
        state.update((sorted(seen),))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "event_type", "first_ts"])

    dedup = events.groupBy("user_id").applyInPandasWithState(
        _first_seen,
        outputStructType="user_id bigint, event_type string, first_ts bigint",
        stateStructType="seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(
        dedup, "append", partitions=_py_state_partitions(spark)
    )
    return out.orderBy("user_id", "event_type")


def streaming_session_counts(
    spark: SparkSession, sf_dir: str, gap_sec: int = 1800
) -> DataFrame:
    """Gap-based session windows via the native ``session_window`` operator.

    Returns per (user_id, session) event counts + duration. Session
    identity is positional (rank of session start per user) so the result
    is comparable with the batch lag/cumsum sessionizer — including at
    the boundary: the window is declared ``gap_sec`` + 1 µs wide so the
    split is strictly ``> gap_sec`` (an exact-gap event stays
    in-session), the registry-wide lag-sessionizer convention.
    """
    events = _stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window(
                "ts", f"{gap_sec} seconds 1 microsecond"
            ).alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("_last"))
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        "user_id",
        F.unix_timestamp("w.start").alias("session_start"),
        "n_events",
        (F.unix_timestamp("_last") - F.unix_timestamp("w.start")).alias(
            "duration_sec"
        ),
    ).orderBy("user_id", "session_start")


def streaming_range_join(
    spark: SparkSession, sf_dir: str, window_sec: int = 600
) -> DataFrame:
    """Stream-stream interval join — the remaining first-class Structured
    Streaming capability: purchases and errors arrive as two watermarked
    streams and join on ``user_id`` with an event-time range condition
    (``|e_ts − p_ts| ≤ window``). The watermark + time bound is what lets
    the engine EVICT join state — each side holds only rows younger than
    watermark + window, so state is bounded by stream *rate*, not length.
    That eviction contract is the production semantics; the bounded
    fixture just means nothing is dropped.

    The inner interval join runs in the streaming engine (append mode —
    each matched pair emits exactly once). The per-purchase rollup and
    the left-complete against ALL purchases happen batch-side on the
    materialized pairs: a streaming count per purchase key would need
    unbounded group state (complete mode), which is unsupported after a
    stream-stream join — and the oracle-relevant semantics live in the
    join. Output equals ``operators.events.range_join_error_context``
    (same oracle SQL).
    """
    from mapreduceindex_spark.session import load_table

    ev = _stream_events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    # The batch operator (and the oracle) compare FLOORED whole seconds:
    # |floor(e) − floor(p)| ≤ window. The streaming range condition runs
    # on the raw µs event times, so use window+1 here — a lossless
    # superset (|Δsec| ≤ w ⟹ |Δexact| < w+1) — and apply the exact
    # floored-second predicate batch-side on the materialized pairs.
    pairs = p.join(
        e,
        (F.col("user_id") == F.col("e_user"))
        & (
            F.col("e_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {window_sec + 1} SECONDS")
        )
        & (
            F.col("e_ts")
            <= F.col("p_ts") + F.expr(f"INTERVAL {window_sec + 1} SECONDS")
        ),
        "inner",
    )
    hit_pairs = _run_to_table(pairs, "append")
    hits = (
        hit_pairs.filter(
            F.abs(
                F.unix_timestamp("e_ts") - F.unix_timestamp("p_ts")
            )
            <= window_sec
        )
        .groupBy("user_id", "purchase_id")
        .agg(F.count(F.lit(1)).alias("n_errors_nearby"))
    )
    all_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.unix_timestamp("ts").alias("p_sec"),
        )
    )
    return (
        all_purchases.join(hits, ["user_id", "purchase_id"], "left")
        .select(
            "user_id",
            "purchase_id",
            "p_sec",
            F.coalesce("n_errors_nearby", F.lit(0)).cast("long").alias(
                "n_errors_nearby"
            ),
        )
        .orderBy("user_id", "purchase_id")
    )


def _outer_join_plan(
    ev: DataFrame, window_sec: int, delay_sec: int, how: str = "leftOuter"
) -> DataFrame:
    """The watermarked view ⟕/⟗ purchase join plan — shared by the
    registry queries (one-file fixture drain) and the forced-two-batch
    eviction test, so the asserted state behavior is the shipped plan's."""
    v = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", f"{delay_sec} seconds")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", f"{delay_sec} seconds")
    )
    return v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {window_sec} SECONDS")
        ),
        how,
    )


def streaming_outer_join(
    spark: SparkSession,
    sf_dir: str,
    window_sec: int = 600,
    delay_sec: int = 3600,
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark NULL-completion —
    the join kind whose semantics users most often get wrong: every
    view pairs with the same user's purchases inside
    ``[v_ts, v_ts + window]``; a view with NO such purchase emits a
    NULL-completed row **only once the watermark proves no match can
    still arrive** (state eviction), and a view whose window is still
    open when the stream ends emits nothing yet.

    Emission contract (probed and pinned, microsecond-exact):

    - matches emit in the micro-batch where both rows have arrived;
    - the NULL row for an unmatched view emits when
      ``unix_micros(v_ts) + window·1e6 <  wm_us``, where ``wm_us`` is
      the final global watermark: per side, Spark tracks the max event
      time TRUNCATED TO MILLISECONDS minus the delay; the global value
      is the MIN across both watermarked sides. Strict ``<`` — a window
      ending exactly at the watermark is still withheld;
    - views above that line are withheld entirely (their state would
      still be live in a continuing deployment).

    The oracle encodes exactly this rule in SQL — the watermark horizon
    is data-derived, so the check is deterministic on any fixture. The
    batch twin (``operators.events.outer_attribution``) computes the
    same maturity-gated attribution and shares the oracle.

    Scale shape: watermark + range condition bound BOTH state stores by
    stream rate (each side holds only rows younger than
    watermark − window); eviction is what makes an unbounded run
    possible, and it is asserted behaviorally in the forced-two-batch
    test (a late match for an already-evicted view does NOT join).
    ``no_data_batches=True``: the NULL rows fire in the trailing empty
    batch that the throughput-only harness default would skip.
    """
    joined = _outer_join_plan(
        _stream_events(spark, sf_dir), window_sec, delay_sec
    )
    out = _run_to_table(joined, "append", no_data_batches=True)
    return out.select(
        "view_id",
        "user_id",
        F.col("purchase_id").cast("long").alias("purchase_id"),
        (F.unix_micros("p_ts") - F.unix_micros("v_ts"))
        .cast("long")
        .alias("lag_usec"),
    ).orderBy("view_id", "purchase_id")


def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-class ``dropDuplicatesWithinWatermark`` surface: distinct
    (user, event_type) pairs from the live stream, with state the
    watermark can EVICT — the engine guarantees dedup of duplicates
    arriving within the delay of each other and frees a key once the
    watermark passes its last-seen event time, so state tracks the
    ACTIVE key set, not stream history (plain streaming
    ``dropDuplicates`` state grows forever).

    Deterministic contract on the bounded replay: only the KEY columns
    are projected, so whichever arrival survives per key, the output is
    exactly the distinct key set — a key reappearing after eviction
    (possible in an unbounded run, by design) could duplicate a FULL
    row but never a projected key set… and the oracle pins exactly
    that: ``SELECT DISTINCT user_id, event_type``. The stateful
    aggregate twin with order-independent survivors is
    ``streaming_exact_dedup``; this entry is the native API the twin's
    docstring contrasts against.
    """
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    dd = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    out = _run_to_table(dd, "append")
    return (
        out.select("user_id", "event_type")
        .distinct()
        .orderBy("user_id", "event_type")
    )


def streaming_full_outer_join(
    spark: SparkSession,
    sf_dir: str,
    window_sec: int = 600,
    delay_sec: int = 3600,
) -> DataFrame:
    """Stream-stream FULL OUTER join — both completion directions of
    ``streaming_outer_join``: unmatched VIEWS NULL-complete once the
    watermark proves their window closed (strict
    ``v_us + window·1e6 < wm_us``), and unmatched PURCHASES
    NULL-complete once no earlier-or-equal view can still arrive —
    probed and pinned: strictly when ``wm_ms > floor_ms(p_ts)``
    (equivalently raw ``p_us < wm_us``, since the watermark is always
    whole milliseconds). Rows on either side whose completion horizon
    is still open when the stream ends emit nothing yet. Same state
    bounds and eviction machinery as the left-outer form — the two
    share ``_outer_join_plan``.

    Output key: ``user_id`` is coalesced across sides so NULL-completed
    purchases still carry their user.
    """
    joined = _outer_join_plan(
        _stream_events(spark, sf_dir), window_sec, delay_sec, "fullOuter"
    )
    out = _run_to_table(joined, "append", no_data_batches=True)
    return out.select(
        F.col("view_id").cast("long").alias("view_id"),
        F.coalesce("user_id", "p_user").cast("long").alias("user_id"),
        F.col("purchase_id").cast("long").alias("purchase_id"),
        (F.unix_micros("p_ts") - F.unix_micros("v_ts"))
        .cast("long")
        .alias("lag_usec"),
    ).orderBy("user_id", "view_id", "purchase_id")


def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup over the documents stream: per content hash,
    the surviving (minimum) doc_id and how many copies arrived.

    The streaming twin of ``operators.dedup.exact_dedup`` — the stateful
    aggregate keys on ``md5(text)``, so state size scales with DISTINCT
    content, not stream length, and min/count are order-independent: the
    result is identical however the stream is micro-batched (unlike
    streaming ``dropDuplicates``, whose survivor depends on arrival
    order). Raw text never enters the state store — only the 32-char hash
    shuffles.
    """
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    agg = (
        stream.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.orderBy("content_hash")


def streaming_quality_filter(
    spark: SparkSession, sf_dir: str, threshold: float = 0.62
) -> DataFrame:
    """Stateless streaming quality gate: the ``quality_score`` filter as
    a pure per-row streaming projection — the ingest-time form of corpus
    filtering (score documents as they arrive, pass survivors onward).

    Statelessness is the point: every feature the batch operator derives
    through a per-doc aggregate (word counts, distinct ratio, mean word
    length) is recomputed here as row-local ARRAY expressions over the
    same normalized word list, so the operator needs no state store, no
    watermark, and no output-mode constraint — each micro-batch row
    passes or drops on sight, which is exactly how a production ingest
    filter in front of a training-shard sink runs (append mode composes
    with ``sinks.shards.stream_to_training_shards``). The arithmetic
    matches ``operators.text_analysis.quality_score`` term for term, so
    the batch oracle gates the streaming plan.
    """
    from mapreduceindex_spark.functions.text import words
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    ws = words(F.col("text"))
    n = F.size(ws)
    n_chars = F.length("text")
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
        / n_chars,
    ).otherwise(F.lit(0.0))
    distinct_ratio = F.when(
        n > 0, F.size(F.array_distinct(ws)).cast("double") / n
    ).otherwise(F.lit(0.0))
    mean_len = F.when(
        n > 0,
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / n,
    ).otherwise(F.lit(0.0))
    score = (
        alpha_ratio * 0.3
        + distinct_ratio * 0.3
        + F.least(n.cast("double") / 100.0, F.lit(1.0)) * 0.2
        + F.least(mean_len / 8.0, F.lit(1.0)) * 0.2
    )
    passed = stream.select(
        "doc_id",
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(score, 4).alias("quality"),
    ).filter(F.col("quality") >= threshold)
    out = _run_to_table(passed, "append")
    return out.orderBy("doc_id")


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension table (customer market segment, keyed on user_id =
    c_custkey in the fixture schema) and aggregated per (event_type,
    segment) — the remaining first-class Structured Streaming join kind
    (``streaming_range_join`` covers stream-stream). The static side is
    a plain batch DataFrame: Spark broadcast-joins it into every
    micro-batch with no state store, which is exactly the production
    "enrich the firehose against a dim table" pattern; the value sum is
    the same exact-decimal aggregation as the windowed twins.
    """
    from mapreduceindex_spark.session import load_table

    ev = _stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("event_type", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(15,2)")).alias("_sum_value"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        "event_type",
        "segment",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("_sum_value", 4).cast("double").alias("sum_value"),
    ).orderBy("event_type", "segment")


def streaming_hot_tokens(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """Streaming heavy-hitter tracking: running word counts over the
    document stream, top ``k`` reported — the ingest-time form of the
    batch ``cms_hot_tokens`` calibration (a live skew dashboard over the
    firehose). Complete-mode hash aggregate: state is one counter per
    distinct word (vocabulary-bounded — Heaps' law, not stream-length-
    bounded), the same state-vs-input distinction every streaming
    aggregate here maintains. On the bounded fixture the running counts
    equal the batch exact counts, so the oracle is the exact top-k.
    """
    from mapreduceindex_spark.functions.text import token_rows
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    counts = (
        token_rows(stream)
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_table(counts, "complete")
    return (
        out.select("word", F.col("n").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(k)
    )


def asof_enrich_frame(ev: DataFrame, events: DataFrame) -> DataFrame:
    """The (streaming errors) × (static purchase history) as-of plan
    behind :func:`streaming_asof_enrich` — exposed as a function of its
    input frames so the stateless-property test drives the PRODUCTION
    construction rather than a copy that could silently drift.

    Matches on FULL microsecond precision (the batch twin's
    ``merge_asof`` and the oracle's ASOF ``e.ts >= p.ts`` both do) —
    comparing second-truncated keys would admit a purchase that happens
    AFTER the error within the same second; the output columns stay
    second-granularity per the shared oracle contract.
    """
    history = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("purchase_id"))
        .select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("p_us"),
                F.col("purchase_id").alias("purchase_id"),
                F.unix_timestamp("ts").cast("long").alias("p_sec"),
            ).alias("p"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("p")).alias("hist"))
        .select(F.col("user_id").alias("h_user"), "hist")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("e_us"),
        F.unix_timestamp("ts").cast("long").alias("e_sec"),
    )
    prior = F.filter(
        F.col("hist"), lambda p: p["p_us"] <= F.col("e_us")
    )
    return (
        errors.join(
            F.broadcast(history), F.col("user_id") == F.col("h_user")
        )
        .withColumn("_prior", prior)
        # ANSI mode (Spark 4 default) makes element_at(arr, -1) THROW on
        # an empty array rather than return NULL — guard with size()
        .withColumn(
            "_m",
            F.when(
                F.size("_prior") > 0, F.element_at(F.col("_prior"), -1)
            ),
        )
        .filter(F.col("_m").isNotNull())
        .select(
            "user_id",
            "event_id",
            "e_sec",
            F.col("_m.purchase_id").alias("purchase_id"),
            F.col("_m.p_sec").alias("p_sec"),
            (F.col("e_sec") - F.col("_m.p_sec")).alias("lag_sec"),
        )
    )


def streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATELESS streaming as-of enrichment: every error event in the
    live stream is matched to the user's latest purchase at-or-before
    its timestamp, against a static purchase-history table — the
    feature-lookup shape ("join each event to the most recent reference
    row") that batch ``asof_error_purchase`` serves offline.

    Spark-first design: Structured Streaming has no stream-static as-of
    join, and an aggregation formulation would hold one state row per
    event. Instead the static side is collapsed ONCE per user into a
    time-sorted ``array<struct<p_us, purchase_id, p_sec>>`` (canonical
    min-event_id per timestamp, same tie rule as the batch twin), and
    that per-user array broadcast-joins into each micro-batch; the
    as-of lookup is then a per-row Catalyst higher-order
    ``filter(arr, p -> p.p_us <= e_us)`` + ``element_at(-1)`` — pure
    JVM expression work, NO state store, emits on arrival, no
    watermark holdback. At 100 TB the broadcast is bounded by users ×
    per-user history (the dimension, not the firehose); a history too
    large to broadcast shuffles both sides on user_id instead — the
    plan is a plain join either way. Inner-match semantics (errors
    with no prior purchase drop) mirror the batch twin, so the DuckDB
    ``ASOF JOIN`` oracle is shared verbatim. Plan construction lives in
    :func:`asof_enrich_frame`.
    """
    from mapreduceindex_spark.session import load_table

    enriched = asof_enrich_frame(
        _stream_events(spark, sf_dir), load_table(spark, sf_dir, "events")
    )
    out = _run_to_table(enriched, "append")
    return out.orderBy("event_id")


def _make_bucket_index_fold(id_col: str, out_a: str, out_b: str):
    """The streaming dedup-INDEX state fold shared by the lexical
    (``streaming_lsh_dedup_pairs``) and semantic
    (``streaming_semantic_dedup_pairs``) ingest dedup operators: state
    per bucket is the sorted id list seen so far; each arriving batch
    emits (old × new) + (new × new) candidate pairs, so every pair is
    emitted exactly once regardless of how the stream micro-batches
    (order-independence pinned by the split-corpus tests)."""
    import pandas as pd

    def _fold(key, pdfs, state):
        old = list(state.get[0]) if state.exists else []
        new_ids = sorted(
            {int(d) for pdf in pdfs for d in pdf[id_col]} - set(old)
        )
        pairs = [(min(a, b), max(a, b)) for a in old for b in new_ids]
        pairs += [
            (new_ids[i], new_ids[j])
            for i in range(len(new_ids))
            for j in range(i + 1, len(new_ids))
        ]
        state.update((sorted(old + new_ids),))
        if pairs:
            yield pd.DataFrame(pairs, columns=[out_a, out_b])

    return _fold


def streaming_lsh_dedup_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    source_dir: str | None = None,
    source_glob: str = "documents.parquet",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Incremental MinHash-LSH near-duplicate detection over the document
    stream — the ingest-time form of batch ``minhash_lsh_pairs``: as each
    document arrives, it is checked against every document seen so far
    and candidate near-dup pairs are emitted immediately. This is the
    "catch the dup before it lands in the corpus" operator an LLM-data
    ingest pipeline runs at the front door.

    Design (Spark-first, three stages):

    1. **Stateless per-row signature** — shingles, 60-bit md5 hashes,
       ``num_hashes`` affine MinHash lanes, and the ``bands`` band
       buckets are all computed as Catalyst expression trees over the
       streaming rows (``transform``/``array_min`` — the array form of
       the shingle builder; per-document work, no shuffle, no state).
       Zero-word documents are dropped exactly like the batch path.
    2. **Stateful bucket index** — ``applyInPandasWithState`` keyed on
       the band bucket: state is the sorted doc_id list seen in that
       bucket; each arriving batch emits (old × new) + (new × new)
       pairs. State grows with the LSH index itself (docs × bands
       entries — that IS the operator: an in-memory dedup index); a
       deployment bounds it with a retention timeout where "dup of a
       6-month-old doc" stops mattering.
    3. **Batch verification** — emitted candidates are exact-Jaccard
       verified against the corpus table (the stream's source of
       record), identical to the batch verifier, so the final output —
       and the DuckDB oracle — is shared verbatim with
       ``minhash_lsh_pairs`` on the bounded fixture.

    Unlike the batch path there is no exact-clone pre-collapse (clones
    must be caught one-by-one at ingest — that is the point); a clone
    FLOOD would make the hot buckets quadratic, which is what the
    upstream ``streaming_dedup`` exact gate removes first in a real
    funnel.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from mapreduceindex_spark.functions.text import (
        shingles,
        stable_hash64,
        words,
    )
    from mapreduceindex_spark.operators.dedup import (
        MINHASH_PRIME,
        _affine_coeffs,
        _band_keys,
        _doc_rep_map,
        _pair_front_end,
        _verified_pairs,
    )
    from mapreduceindex_spark.session import ensure_session_confs, load_table

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # source_dir/source_glob let tests stream a SPLIT corpus (many files,
    # one per trigger) so cross-micro-batch pair discovery is exercised;
    # verification always runs against the canonical sf_dir table
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("pathGlobFilter", source_glob)
        .parquet(source_dir or sf_dir)
    )

    P = MINHASH_PRIME
    hs = F.transform(
        F.array_distinct(shingles(F.col("text"), n)),
        lambda s: stable_hash64(s) % P,
    )
    # A micro-batch of one parquet file arrives as ONE input partition,
    # and the 16-lane minhash transform is the pipeline's heaviest
    # per-row work — measured 9.0 s single-core vs 0.6 s spread at
    # sf0.1. Repartition on doc_id BEFORE the signature expressions so
    # they run at session parallelism; the shuffle moves raw text once,
    # strictly cheaper than computing 16 array folds on one core.
    # NOTE (r11, VERDICT #8 tried and REVERTED): folding the 16 lanes as
    # one nested transform over a literal coefficient array halves the
    # cold-JIT tree but DOUBLES the warm cost (measured 5.7 → 11.9 s —
    # the struct-field access on the lambda variable is evaluated
    # per-element × per-lane, interpreted). The unrolled per-lane
    # columns stay; the cold first run is a once-per-JVM codegen cost
    # the bench already reports separately in its `cold` column.
    sig = (
        stream.filter(F.size(words(F.col("text"))) > 0)
        .repartition(F.col("doc_id"))
        .select("doc_id", hs.alias("_hs"))
    )
    def _lane(a: int, b: int):
        # closure factory: PySpark derives the lambda's SQL arity from
        # its Python signature, so default-arg captures would make it
        # look ternary
        return lambda x: (x * a + b) % P

    for i, (a, b) in enumerate(_affine_coeffs(num_hashes)):
        sig = sig.withColumn(
            f"mh_{i}", F.array_min(F.transform(F.col("_hs"), _lane(a, b)))
        )
    # State stays keyed on the RAW bucket: only buckets with arrivals
    # pay any state I/O in a micro-batch, so per-batch cost tracks
    # BATCH size, not accumulated index size. (A shard-keyed variant —
    # 64 shards, bucket→ids map per shard — was measured and reverted:
    # it saved only ~5% here because per-group Python overhead is not
    # the bottleneck, while making every touched shard round-trip its
    # ENTIRE accumulated index each batch — quadratic total work over a
    # long-running stream. The actual win was the repartition above.)
    stacked = sig.select(
        "doc_id",
        F.explode(F.array(*_band_keys(num_hashes, bands))).alias("bucket"),
    )

    cand_stream = stacked.groupBy("bucket").applyInPandasWithState(
        _make_bucket_index_fold("doc_id", "doc_a", "doc_b"),
        outputStructType="doc_a bigint, doc_b bigint",
        stateStructType="ids array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    cand = _run_to_table(
        cand_stream,
        "append",
        # scale with the session's core count (the Python group
        # loop over state buckets is the bottleneck; 16 was tuned
        # for local[32] — defaultParallelism keeps the driver's
        # lower-core bench runs and cluster runs sized to the box)
        partitions=max(spark.sparkContext.defaultParallelism, 8),
    ).distinct()

    # batch verification — the batch verifier itself. Shingle sets come
    # from the memoized dedup front end (one rep per distinct content,
    # cached): clones carry identical shingle sets, so routing each
    # candidate doc through the (doc → rep) map yields the same jaccard
    # as re-shingling the whole corpus did — without paying the full
    # shingle pass per invocation.
    docs = load_table(spark, sf_dir, "documents")
    front = _pair_front_end(docs, n)
    shsets = front.sh.groupBy(F.col("doc_id").alias("rep")).agg(
        F.collect_set("sh").alias("hs")
    )
    sets = _doc_rep_map(front).join(shsets, "rep").select("doc_id", "hs")
    return _verified_pairs(cand, sets, threshold).orderBy("doc_a", "doc_b")


def streaming_semantic_dedup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.95,
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    source_dir: str | None = None,
    source_glob: str = "embeddings.parquet",
    max_files_per_trigger: int = 4,
    reingest_offset: int | None = 1_000_000,
) -> DataFrame:
    """Ingest-time SEMANTIC near-duplicate detection over the embedding
    stream — the vector-space twin of ``streaming_lsh_dedup_pairs``:
    as each embedding arrives, its banded sign-LSH buckets are checked
    against every vector seen so far and candidate pairs emit
    immediately. The front-door SemDeDup gate an LLM-data ingest
    pipeline runs next to the lexical one (paraphrases and
    re-encodings share no shingles; only the vector gate catches
    them).

    Three stages, mirroring the lexical operator:

    1. **Stateless per-row bucketing** — the SAME deterministic
       hyperplanes, band split, and numpy sign-bit matmul as the batch
       ``embedding_near_dups`` LSH tier (one N×dim @ dim×planes matmul
       per Arrow batch; a vector emits ``bands`` bucket keys).
    2. **Stateful bucket index** — the shared
       ``_make_bucket_index_fold`` state: sorted vec_id list per
       bucket, (old × new) + (new × new) emission, state = the LSH
       index itself (vectors × bands entries).
    3. **Batch verification** — exact q6 cosine against the
       (augmented) embeddings table (per-side norms, one dot fold per
       pair — the ``cosine_topk`` discipline), ≥ ``threshold`` kept.

    ``reingest_offset`` (the fixture's dup-injection harness): the
    synthetic embedding table contains NO cosine ≥ 0.95 pairs (max
    pairwise cosine ≈ 0.51), so a bare run of the gate would be a
    0-row, trivially-green check. With the offset set, every arriving
    vector ALSO ingests as a re-encoded duplicate under
    ``vec_id + offset`` — the canonical front-door case (the same
    content embedded twice yields the same vector), expressed as a
    per-row stream projection. Duplicate copies carry BIT-IDENTICAL
    embeddings, hence bit-identical band buckets, so recall of the
    injected pairs is exactly 1.0 by construction — no probabilistic
    band argument needed — while all cross-content pairs stay ≤ 0.51
    and can never pass verification. Production callers pass ``None``
    for the pure gate; near-miss (cosine ≈ 0.999) recall behavior is
    pinned by the synthetic-vector pytest fixtures instead.

    Oracle basis: brute-force cosine ≥ threshold over the augmented
    table — the banded index adds no false positives (verification is
    exact) and provably misses none of the injected pairs.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduceindex_spark.operators.similarity import _hyperplanes
    from mapreduceindex_spark.session import ensure_session_confs, load_table

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("pathGlobFilter", source_glob)
        .parquet(source_dir or sf_dir)
    ).select("vec_id", "embedding")

    def _augment(df: DataFrame) -> DataFrame:
        if reingest_offset is None:
            return df
        return df.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("vec_id").alias("vec_id"), F.col("embedding")
                    ),
                    F.struct(
                        (F.col("vec_id") + F.lit(int(reingest_offset)))
                        .alias("vec_id"),
                        F.col("embedding"),
                    ),
                )
            ).alias("_r")
        ).select("_r.vec_id", "_r.embedding")

    stream = _augment(stream)
    r = n_planes // bands
    planes_t = [list(col) for col in zip(*_hyperplanes(n_planes, dim))]

    def _buckets(batches):
        P = np.array(planes_t)  # dim × n_planes
        weights = 1 << np.arange(r, dtype="int64")
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            bits = (E @ P) >= 0
            frames = []
            for bi in range(bands):
                h = bits[:, bi * r : (bi + 1) * r].astype("int64") @ weights
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "bucket": h + (bi << r),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    # one parquet file per micro-batch arrives as one partition —
    # spread before the matmul stage (the lexical operator's measured
    # finding; the shuffle moves (id, vector) rows once)
    stacked = (
        stream.select("vec_id", "embedding")
        .repartition(F.col("vec_id"))
        .mapInPandas(_buckets, "vec_id long, bucket long")
    )
    cand_stream = stacked.groupBy("bucket").applyInPandasWithState(
        _make_bucket_index_fold("vec_id", "vec_a", "vec_b"),
        outputStructType="vec_a bigint, vec_b bigint",
        stateStructType="ids array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    cand = _run_to_table(
        cand_stream,
        "append",
        # scale with the session's core count (the Python group
        # loop over state buckets is the bottleneck; 16 was tuned
        # for local[32] — defaultParallelism keeps the driver's
        # lower-core bench runs and cluster runs sized to the box)
        partitions=max(spark.sparkContext.defaultParallelism, 8),
    ).distinct()
    emb = _augment(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("_ea")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("_eb")
    )

    # verification kernel: one vectorized numpy pass over the joined
    # candidate frame — the batch LSH tier's per-bucket BLAS
    # discipline, row-wise (the 8-bit bands admit ~312k candidates on
    # the augmented sf0.1 table, and per-pair interpreted cosine folds
    # cost ~5.7 s of the query's 8 s; the kernel is milliseconds).
    # Identical tie-free rounding branch as _embedding_near_dups_lsh.
    def _verify(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf["_ea"].to_numpy()).astype("float64")
            B = np.stack(pdf["_eb"].to_numpy()).astype("float64")
            dots = np.einsum("ij,ij->i", A, B)
            denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, dots / denom, np.nan)
            cos = np.where(
                cos >= 0,
                np.floor(cos * 1e6 + 0.5),
                -np.floor(-cos * 1e6 + 0.5),
            ) / 1e6  # tie-free, branch-identical to exact.q6
            with np.errstate(invalid="ignore"):
                keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy()[keep],
                    "vec_b": pdf["vec_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .mapInPandas(_verify, "vec_a long, vec_b long, cosine double")
        .orderBy("vec_a", "vec_b")
    )


def streaming_session_funnel(
    spark: SparkSession,
    sf_dir: str,
    gap_sec: int = 1800,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Per-SESSION ordered funnel over the live event stream: within each
    gap-based user session, did the user view → click → purchase in that
    order? Reports sessions reaching each stage — the conversion readout
    per visit, where the batch ``funnel_conversion`` reports it per user
    lifetime. Boundary convention: ``gap_sec`` means the SAME thing
    here as in every lag-based sessionizer (``sessionize``, the Markov
    ops, ``top_event_paths``): an event at EXACTLY ``gap_sec`` after
    its predecessor stays in-session; the split is strictly
    ``> gap_sec``. ``session_window`` natively splits at ``>= gap``
    (half-open windows), so the window is declared one microsecond —
    the engine's full event-time resolution — wider, making the two
    sessionizers membership-identical (pinned by the boundary-gap
    fixture test that runs one fixture through both).

    Streaming shape: the stateful step is one ``session_window``
    aggregate whose state PER SESSION is the session's per-stage
    event-time lists — bounded by session size (a user's burst). This
    runs in complete mode to match the bounded-fixture oracle, so
    closed sessions are retained for re-emission (state tracks total
    sessions seen); the production deployment is the same aggregate in
    append mode, where the 1-hour watermark finalizes and EVICTS each
    session — the batch-side fold below is output-mode-agnostic, and
    the watermark-eviction contract itself is pinned by
    ``test_streaming_watermark_drops_late_rows``. Funnel progression is
    deliberately NOT computed in the stateful operator: first-touch
    ordering (stage k counts only strictly after the qualifying stage
    k−1 time) folds over the closed session's lists as plain Catalyst
    array expressions batch-side, where it's a pure projection.
    Comparisons are full-microsecond (``unix_micros``) — second
    truncation would fake ties. The 3-row report explodes from ONE
    aggregate row (no union re-execution of the session scan).
    """
    events = _stream_events(spark, sf_dir)
    mic = F.unix_micros("ts")
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            # gap_sec + 1 µs: session_window splits at >= gap, the
            # registry convention splits at > gap_sec — see docstring
            F.session_window(
                "ts", f"{gap_sec} seconds 1 microsecond"
            ).alias("w"),
            "user_id",
        )
        .agg(
            *[
                F.collect_list(
                    F.when(F.col("event_type") == s, mic)
                ).alias(f"_t{i}")
                for i, s in enumerate(stages)
            ]
        )
    )
    out = _run_to_table(agg, "complete")
    n_stages = len(stages)
    reached = out.select(
        F.array_min("_t0").alias("_s0"),
        *[f"_t{i}" for i in range(1, n_stages)],
    )
    for i in range(1, n_stages):
        reached = reached.select(
            *[f"_s{j}" for j in range(i)],
            F.array_min(
                F.filter(F.col(f"_t{i}"), lambda x: x > F.col(f"_s{i - 1}"))
            ).alias(f"_s{i}"),
            *[f"_t{j}" for j in range(i + 1, n_stages)],
        )
    hit = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(F.col(c).isNotNull(), 1).otherwise(0)), F.lit(0)
    ).cast("long")
    tot = reached.agg(
        *[hit(f"_s{i}").alias(f"_n{i}") for i in range(n_stages)]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"_n{i}").alias("n_sessions"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return (
        tot.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("stage_idx")
    )


def _fold_session_rows(uid, rows, last, start, n, gap_us):
    """The gap-sessionizer fold shared by both timeout sessionizers
    (``applyInPandasWithState`` and ``transformWithStateInPandas``):
    fold this micro-batch's sorted (us, event_id) rows into the live
    (last, start, n) session, returning the updated live session plus
    the list of sessions closed in-stream.

    Handles the two cross-micro-batch late-event cases: (a) late events
    BEFORE the live session's start are sessionized on their own track
    in global order — the whole prefix below ``start``, not just the
    below-``start − gap`` part, because an in-between event can BRIDGE
    an earlier chain to the live session (gap ≤ threshold at every
    hop) and global order then keeps everything as one session; only a
    chain whose tail stays more than gap below ``start`` closes as a
    separate earlier session. (b) a late event inside the live span
    extends it backward without rewinding ``last``.
    """
    closed = []
    if last is not None:
        pre = [r for r in rows if r[0] < start]
        if pre:
            rows = rows[len(pre):]
            e_start = e_last = pre[0][0]
            e_n = 1
            for us, _eid in pre[1:]:
                if us - e_last > gap_us:
                    closed.append((uid, e_start, e_last, e_n))
                    e_start = e_last = us
                    e_n = 1
                else:
                    e_last = us
                    e_n += 1
            if start - e_last > gap_us:
                closed.append((uid, e_start, e_last, e_n))
            else:
                start, n = e_start, n + e_n
    for us, _eid in rows:
        if last is None:
            last, start, n = us, us, 1
        elif us - last > gap_us:
            closed.append((uid, start, last, n))
            last, start, n = us, us, 1
        else:
            # a LATE but watermark-admissible event (us < last,
            # possible only across micro-batches) must extend the
            # span backward, never rewind `last` — a rewound last
            # would fake a gap against the next on-time event and
            # split a session the global-order oracle keeps whole
            last, start, n = max(last, us), min(start, us), n + 1
    return last, start, n, closed


def streaming_timeout_sessions(
    spark: SparkSession,
    sf_dir: str,
    gap_sec: int = 1800,
    delay_sec: int = 3600,
) -> DataFrame:
    """Session emission driven by STATE TIMEOUTS — the
    ``EventTimeTimeout`` API surface: per user, a gap session closes
    and EMITS either (a) immediately, when a new event arrives more
    than ``gap_sec`` after the last (the in-stream split), or (b) when
    the event-time watermark passes the open session's horizon
    (``setTimeoutTimestamp(last_ms + gap·1000)`` — Spark fires the
    callback STRICTLY after ``watermark_ms > timeout_ms``, probed and
    pinned), so a quiet user's session still emits without waiting for
    their next visit — the property complete-mode sessionizers lack.
    A session still open at the horizon emits nothing yet (same
    withholding contract as ``streaming_outer_join``'s tail).

    Gap convention: strictly ``> gap_sec`` splits — registry-wide. The
    state is one (last, start, count) row per user (bounded by ACTIVE
    users, evicted at timeout — never stream length). The oracle
    replays the sessionizer plus the exact emission rule: every
    non-final session, plus final sessions with
    ``wm_ms > floor_ms(last) + gap·1000`` where ``wm_ms`` is the
    ms-truncated max event time minus the delay. ``no_data_batches``
    stays ON: the trailing empty batch is what fires the timeouts.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_sec) * 1_000_000
    gap_ms = int(gap_sec) * 1_000
    ev = (
        _stream_events(spark, sf_dir)
        .select("user_id", "ts", "event_id")
        .withWatermark("ts", f"{delay_sec} seconds")
    )

    def _sessions(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            last, start, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [start],
                    "session_end_us": [last],
                    "n_events": [n],
                }
            )
            return
        rows = []
        for pdf in pdfs:
            us = pdf["ts"].astype("int64") // 1000
            rows.extend(zip(us.tolist(), pdf["event_id"].tolist()))
        rows.sort()
        if state.exists:
            last, start, n = state.get
        else:
            last = start = n = None
        # shared fold (see _fold_session_rows): in-stream splits, the
        # separate-earlier-session routing of too-early late events
        # (a chain that would merge with a session ALREADY emitted in a
        # prior batch cannot be retracted in append mode — residual
        # divergence pinned in test_timeout_sessions_late_event_paths),
        # and backward extension without rewinding `last`
        last, start, n, closed = _fold_session_rows(
            key[0], rows, last, start, n, gap_us
        )
        horizon_ms = last // 1000 + gap_ms
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > horizon_ms:
            # The watermark is already strictly past this session's
            # horizon (a watermark-admissible late event landed with
            # delay > gap): setTimeoutTimestamp(horizon_ms) would raise
            # INVALID_TIMEOUT_TIMESTAMP (timestamp < watermark, pyspark
            # GroupState client-side check), and no admissible future
            # event can extend the session (us_ms >= wm_ms > last_ms +
            # gap_ms forces a split).  Emit now — exactly what the
            # fired callback would have done — and drop the state.
            if state.exists:
                state.remove()
            closed.append((key[0], start, last, n))
        else:
            # horizon == wm is legal (only strictly-less is rejected)
            # and fires exactly on wm' > horizon — the oracle's rule
            state.update((last, start, n))
            state.setTimeoutTimestamp(horizon_ms)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "session_start_us",
                    "session_end_us",
                    "n_events",
                ],
            )

    out_stream = ev.groupBy("user_id").applyInPandasWithState(
        _sessions,
        outputStructType=(
            "user_id bigint, session_start_us bigint, "
            "session_end_us bigint, n_events bigint"
        ),
        stateStructType="last_us bigint, start_us bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out = _run_to_table(
        out_stream,
        "append",
        partitions=_py_state_partitions(spark),
        no_data_batches=True,
    )
    return out.orderBy("user_id", "session_start_us")


def streaming_timeout_sessions_tws(
    spark: SparkSession,
    sf_dir: str,
    gap_sec: int = 1800,
    delay_sec: int = 3600,
) -> DataFrame:
    """``streaming_timeout_sessions`` ported to Spark 4's
    ``transformWithStateInPandas`` — the production arbitrary-state API
    going forward (first-class TIMERS instead of the single implicit
    timeout slot, named typed state variables, optional TTL, RocksDB
    state store). Same semantics, same oracle, second physical plan:
    both routes are checked against one ground truth.

    API mapping from the ``applyInPandasWithState`` original:

    - ``setTimeoutTimestamp(ms)`` → explicit ``registerTimer(ms)``;
      timers are NOT replaced implicitly, so re-arming on session
      extension must ``deleteTimer`` the previously armed horizon —
      the state row carries it (``armed_ms``).
    - ``state.hasTimedOut`` → the separate ``handleExpiredTimer``
      callback (fires strictly after watermark passes the timer, probed
      and pinned in tests like the original's emission rule).
    - watermark probe → ``timerValues.getCurrentWatermarkInMs()``; the
      same emit-now guard applies when a late event leaves the horizon
      at-or-under the current watermark (timers at ``<= wm`` may never
      fire on a drained source).
    - requires the RocksDB state store provider (bundled
      ``rocksdbjni``); the conf is set for the query and restored.

    The in-stream split, the separate-earlier-session routing of
    too-early late events, and the backward-extension rule are the
    exact logic of the original (shared ``_fold_session_rows``).
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from mapreduceindex_spark.vendor import ensure_protobuf

    # the state clients deserialize StateMessage protos INSIDE the
    # Python workers — ship the vendored runtime shim there (addPyFile)
    # unless a real protobuf distribution is installed
    if not ensure_protobuf(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime"
        )

    gap_us = int(gap_sec) * 1_000_000
    gap_ms = int(gap_sec) * 1_000
    ev = (
        _stream_events(spark, sf_dir)
        .select("user_id", "ts", "event_id")
        .withWatermark("ts", f"{delay_sec} seconds")
    )

    class _Sessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "session",
                "last_us bigint, start_us bigint, n bigint, armed_ms bigint",
            )
            self._handle = handle

        def handleInputRows(self, key, rows, timerValues):
            items = []
            for pdf in rows:
                us = pdf["ts"].astype("int64") // 1000
                items.extend(zip(us.tolist(), pdf["event_id"].tolist()))
            items.sort()
            closed = []
            armed_ms = None
            if self._state.exists():
                last, start, n, armed_ms = self._state.get()
            else:
                last = start = n = None
            last, start, n, closed = _fold_session_rows(
                key[0], items, last, start, n, gap_us
            )
            horizon_ms = last // 1000 + gap_ms
            wm_ms = timerValues.getCurrentWatermarkInMs()
            if wm_ms > horizon_ms:
                # same emit-now guard as the applyInPandasWithState
                # original: the horizon is already behind the watermark
                # (late event with delay > gap) — a timer at <= wm may
                # never fire; emit what the timer would have emitted
                if armed_ms is not None:
                    self._handle.deleteTimer(armed_ms)
                if self._state.exists():
                    self._state.clear()
                closed.append((key[0], start, last, n))
            else:
                if armed_ms is not None and armed_ms != horizon_ms:
                    self._handle.deleteTimer(armed_ms)
                if armed_ms != horizon_ms:
                    self._handle.registerTimer(horizon_ms)
                self._state.update((last, start, n, horizon_ms))
            if closed:
                yield pd.DataFrame(
                    closed,
                    columns=[
                        "user_id",
                        "session_start_us",
                        "session_end_us",
                        "n_events",
                    ],
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._state.exists():
                return
            last, start, n, armed_ms = self._state.get()
            if expiredTimerInfo.getExpiryTimeInMs() != armed_ms:
                # a stale timer the re-arm path already superseded
                return
            self._state.clear()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [start],
                    "session_end_us": [last],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    out_stream = ev.groupBy("user_id").transformWithStateInPandas(
        _Sessions(),
        outputStructType=(
            "user_id bigint, session_start_us bigint, "
            "session_end_us bigint, n_events bigint"
        ),
        outputMode="append",
        timeMode="eventTime",
    )
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = _run_to_table(
            out_stream,
            "append",
            partitions=_py_state_partitions(spark),
            no_data_batches=True,
        )
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    return out.orderBy("user_id", "session_start_us")


def streaming_markov_transitions(
    spark: SparkSession, sf_dir: str, gap_sec: int = 1800
) -> DataFrame:
    """Streaming twin of ``events_markov_transitions``: the per-user
    state is ONE row — the last seen (event time, type) — carried across
    micro-batches by ``applyInPandasWithState``, so the transition
    matrix streams with state bounded by user cardinality, never stream
    length (the canonical "online Markov model" shape). Each batch
    emits partial (from, to) counts; totals and the conditional ppm are
    a |types|²-bounded batch aggregate over the sink.

    Semantics mirror the batch operator exactly: events ordered by
    (ts, event_id), second-truncated gaps (``unix_timestamp``
    discipline), transitions crossing a > ``gap_sec`` pause dropped —
    on the bounded fixture the result equals the batch matrix, which is
    what the shared oracle checks.
    """
    events = _stream_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    partials = _markov_partials(events, gap_sec)
    sunk = _run_to_table(
        partials, "append", partitions=_py_state_partitions(spark)
    )
    return _markov_finalize(sunk)


def _markov_partials(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """The stateful core of ``streaming_markov_transitions``, split out
    so tests can drive it with their own multi-file (multi-batch)
    sources; ``events`` is any stream of (user_id, event_id, ts,
    event_type)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _chain(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        # normalize to nanos first — Arrow may hand back datetime64[us],
        # where a bare int64 view would be off by 1000 on the gap math
        secs = (
            pdf["ts"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000
        ).tolist()
        types = pdf["event_type"].tolist()
        if state.exists:
            last_sec, last_type = state.get
            secs = [last_sec] + secs
            types = [last_type] + types
        counts: dict = {}
        for i in range(1, len(types)):
            if secs[i] - secs[i - 1] <= gap_sec:
                k = (types[i - 1], types[i])
                counts[k] = counts.get(k, 0) + 1
        state.update((int(secs[-1]), types[-1]))
        if counts:
            yield pd.DataFrame(
                [(f, t, n) for (f, t), n in counts.items()],
                columns=["from_type", "to_type", "n"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        _chain,
        outputStructType="from_type string, to_type string, n bigint",
        stateStructType="last_sec bigint, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _markov_finalize(sunk: DataFrame) -> DataFrame:
    """Total the per-batch partial counts and attach conditional ppm —
    a |types|²-bounded batch aggregate over the sink."""
    counts = sunk.groupBy("from_type", "to_type").agg(
        F.sum("n").alias("_n")
    )
    # rename the regrouped key: both frames descend from the one
    # memory-sink view, and a same-name join on shared lineage trips
    # Spark's conflicting-attribute check
    totals = counts.groupBy(
        F.col("from_type").alias("_ft")
    ).agg(F.sum("_n").alias("_row_n"))
    return (
        counts.join(
            F.broadcast(totals), F.col("from_type") == F.col("_ft")
        )
        .select(
            "from_type",
            "to_type",
            F.col("_n").cast("long").alias("n_transitions"),
            F.expr("(_n * 1000000) DIV _row_n")
            .cast("long")
            .alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC per event type maintained over the live stream —
    the streaming twin of ``operators.events.events_ohlc`` (same
    oracle): ``min_by``/``max_by`` keyed on the (ts, event_id) total
    order run as ordinary stateful window aggregates, so open/close
    update incrementally as micro-batches land.

    State per (day, type) window is five BIGINTs + two keys — bounded
    by the watermark horizon in append mode; complete mode here to
    match the bounded-fixture oracle (the registry's documented
    streaming-twin convention). Quantization and tiebreaks are the
    batch expressions verbatim, so batch and stream agree bit-for-bit.
    """
    events = _stream_events(spark, sf_dir)
    v4 = F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)")
    base = events.select(
        "ts",
        "event_type",
        v4.alias("_v4"),
        F.struct("ts", "event_id").alias("_ord"),
    )
    agg = (
        base.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.expr("min_by(_v4, _ord)").alias("_open"),
            F.max("_v4").alias("_high"),
            F.min("_v4").alias("_low"),
            F.expr("max_by(_v4, _ord)").alias("_close"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.expr(
            "CAST(unix_seconds(w.start) AS BIGINT) DIV 86400"
        ).alias("day_num"),
        "event_type",
        F.col("_open").cast("long").alias("open_u4"),
        F.col("_high").cast("long").alias("high_u4"),
        F.col("_low").cast("long").alias("low_u4"),
        F.col("_close").cast("long").alias("close_u4"),
        F.col("_n").cast("long").alias("n_events"),
    ).orderBy("day_num", "event_type")


def streaming_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Benford first-digit screen maintained over a live orders
    stream — fabricated-data monitoring at ingest time, the streaming
    twin of ``profiling.benford_prices`` (same oracle): per-digit
    counts run as ONE stateful complete-mode aggregate (9 state rows,
    no watermark needed — digit counts are time-agnostic), and the
    ppm-vs-expectation fold happens batch-side on the materialized
    9-row readout via the shared ``benford_report``.
    """
    from mapreduceindex_spark.operators.profiling import (
        benford_digits,
        benford_report,
    )
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
    agg = benford_digits(stream).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    out = _run_to_table(agg, "complete")
    return benford_report(out)


def streaming_last_event_per_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC-style latest-value materialization: per user, the LAST event
    (by the registry's (ts, event_id) total order) plus the running
    event count — the online "current state of every entity" table a
    change stream is usually folded into, and the complement of
    ``streaming_first_seen_pairs``' first-seen dedup.

    Spark-native shape: a complete-mode stateful aggregation with
    ``max_by`` over the (ts, event_id) struct — one JVM-side state row
    per user (bounded by key cardinality, never stream length), no
    Python in the loop, deterministic under tied timestamps because the
    comparison key is the total order, not the timestamp alone. On the
    bounded fixture this equals the batch argmax, which is what the
    oracle replays.
    """
    ev = _stream_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = ev.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("last_event_type"),
        F.max_by(F.unix_micros(F.col("ts")), key).alias("last_ts_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    out = _run_to_table(agg, "complete", partitions=8)
    return out.select(
        "user_id",
        "last_event_type",
        F.col("last_ts_us").cast("long").alias("last_ts_us"),
        F.col("n_events").cast("long").alias("n_events"),
    ).orderBy("user_id")


def streaming_event_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day event-mix drift maintained ONLINE — the streaming
    twin of ``events.event_mix_drift`` (same oracle): (day, type)
    counts run as one stateful complete-mode aggregate, and the
    share/L1 fold happens batch-side on the materialized counts via the
    shared ``mix_drift_from_counts`` — the distribution-shift alarm
    wired where it belongs, at ingest time, instead of in a nightly
    batch.

    State is bounded by active-days × event-types. Unlike the bounded
    registry drain, an UNBOUNDED deployment grows a row per new day —
    there you window the state (drop days older than the drift horizon
    via a watermarked window aggregate); the complete-mode form is kept
    because the drift fold needs yesterday's finalized counts, which
    append-mode windows would withhold until watermark passage.
    """
    from mapreduceindex_spark.operators.events import (
        _epoch_day,
        mix_drift_from_counts,
    )

    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.select(_epoch_day().alias("day_num"), "event_type")
        .groupBy("day_num", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    counts = _run_to_table(agg, "complete", partitions=8)
    # the drift fold SELF-JOINS the counts frame (shares vs prev-day
    # shares vs both-days semi); a memory-sink MemoryPlan's attributes
    # do not dedupe across self-join branches the way file-scan
    # relations do (Conflicting attributes: day_num) — rebuild the
    # frame as a local relation first, which is metadata-sized by
    # construction (active-days × event-types)
    local = spark.createDataFrame(counts.collect(), counts.schema)
    return mix_drift_from_counts(local)


def streaming_cdc_chunk_store(
    spark: SparkSession, sf_dir: str, divisor: int = 8
) -> DataFrame:
    """Streaming content-addressed CHUNK STORE: documents are CDC-chunked
    on sight (the row-local ``dedup.cdc_chunk_rows`` expression tree —
    no window, no pre-shuffle) and the stream maintains, per chunk
    content hash, the surviving instance and the copy count — the
    ingest-time form of ``cdc_chunk_dedup``, and the chunk-granular
    sibling of ``streaming_exact_dedup``: what a dedup ingest tier
    actually stores is chunks, so shifted re-crawls dedup against the
    store even when no whole document matches.

    Order-independence by construction: the stateful aggregate keys on
    the chunk hash with ``min(struct(doc_id, chunk_id))`` + count —
    identical however the stream is micro-batched (no first-arrival
    semantics to diverge from the batch oracle; the
    ``streaming_exact_dedup`` discipline). State scales with DISTINCT
    chunk content, ~positions/divisor entries of 4 BIGINTs — the store
    itself, not a leak. Raw text never enters the state store: chunking
    happens in the scan stage and only (hash, ids, length) shuffles.

    Output: (ch, n_toks, n_instances, keep_doc_id, keep_chunk_id),
    ordered by ch — bit-identical to grouping the batch chunker by
    content hash (shared oracle ground truth).
    """
    from mapreduceindex_spark.operators.dedup import cdc_chunk_rows
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    agg = cdc_chunk_rows(stream, divisor).groupBy("ch").agg(
        F.min("n_toks").alias("n_toks"),
        F.count(F.lit(1)).alias("n_instances"),
        F.min(F.struct("doc_id", "chunk_id")).alias("_keep"),
    )
    out = _run_to_table(agg, "complete")
    return (
        out.select(
            "ch",
            F.col("n_toks").cast("long").alias("n_toks"),
            F.col("n_instances").cast("long").alias("n_instances"),
            F.col("_keep.doc_id").cast("long").alias("keep_doc_id"),
            F.col("_keep.chunk_id").cast("long").alias("keep_chunk_id"),
        )
        .orderBy("ch")
    )


def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type distinct-user estimation via HLL registers —
    the mergeable-sketch state shape: the stateful aggregate keys on
    ``(event_type, register)`` and keeps ``max(rho)``, which is
    idempotent AND commutative, so the final register vector is
    identical however the stream is micro-batched or partitioned, and
    state size is ``types × m`` FOREVER — a distinct-user counter whose
    state does not grow with the stream (contrast
    ``streaming_first_seen``, whose state is one row per distinct
    user). The estimate readout runs batch-side over the materialized
    (types × m)-row register table; only integers cross the state
    store.

    The streaming twin of ``sketches.hll_distinct_users`` (minus the
    exact calibration column — an exact distinct would defeat the
    bounded-state point); the oracle is the same register SQL.
    """
    from mapreduceindex_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    stream = _stream_events(spark, sf_dir)
    regs = hll_registers(stream, ["event_type"], F.col("user_id"))
    out = _run_to_table(regs, "complete")
    return hll_estimate(out, ["event_type"]).orderBy("event_type")


def streaming_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-quantile FIRST PHASE as state: per event type, a
    fixed-width value histogram (5-dollar buckets over integer cents)
    kept as a complete-mode counting aggregate — counts are commutative,
    so the final histogram is micro-batching- and order-independent and
    state is (types × occupied buckets), bounded by the value range,
    never by stream length. The batch-side readout then walks the
    materialized histogram to the p50/p90/p99 BUCKETS (first bucket
    whose running count reaches ceil(p·n) — ``nearest_rank_pick``'s
    phase-1 logic): the streaming half of the two-phase exact
    percentile engine in ``operators/sketches.py``, with the second
    (within-bucket) pass left to a batch query over the named bucket.

    Output: (event_type, p_ppm, bucket, bucket_lo_cents, n_le), ordered
    — n_le pins the running count at the picked bucket into the hash.
    """
    from mapreduceindex_spark.functions.exact import floor_div_sql
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    stream = _stream_events(spark, sf_dir)
    # floored (not truncating) bucket division so a negative value
    # (e.g. a refund event at -6.00 → -600 cents → bucket -2, not -1)
    # lands in the same bucket on both engines and the bucket grid
    # stays uniform-width through zero (ADVICE r09: bare DIV truncates
    # toward zero on Spark while DuckDB's // floors)
    cents = "CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)"
    hist = (
        stream.select(
            "event_type",
            F.expr(floor_div_sql(cents, 500, "DIV")).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_table(hist, "complete")
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("bucket")
    cum = out.select(
        "event_type",
        "bucket",
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "n_le"
        ),
        F.sum("n").over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_tot"),
    )
    ps = spark.createDataFrame(
        [(500000,), (900000,), (990000,)], "p_ppm long"
    )
    picked = (
        cum.crossJoin(F.broadcast(ps))
        .filter(
            F.col("n_le")
            >= F.expr("(p_ppm * _tot + 999999) DIV 1000000")
        )
        .groupBy("event_type", "p_ppm")
        .agg(
            F.min("bucket").cast("long").alias("bucket"),
            F.min_by("n_le", "bucket").cast("long").alias("n_le"),
        )
    )
    return picked.select(
        "event_type",
        "p_ppm",
        "bucket",
        (F.col("bucket") * 500).cast("long").alias("bucket_lo_cents"),
        "n_le",
    ).orderBy("event_type", "p_ppm")


def streaming_zscore_anomaly(
    spark: SparkSession,
    sf_dir: str,
    min_prior: int = 5,
    z2: int = 9,
    source_dir: str | None = None,
    source_glob: str = "events.parquet",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Online per-user value-anomaly detection over the live event
    stream: each arriving event is tested against the user's OWN
    running history — flag when its deviation from the running mean
    exceeds z·sigma (z² = ``z2``) over at least ``min_prior`` prior
    events. The per-entity outlier gate an ingestion pipeline runs at
    the front door, complementing ``events_anomaly`` (volume bursts per
    type) with a VALUE test per user; strictly-prior semantics make the
    flag causal — an event never influences its own threshold.

    State per user is three BIGINTs (n, Σx, Σx²) carried by
    ``applyInPandasWithState`` — constant per user forever, the
    smallest possible streaming-anomaly state. The z-test runs as pure
    integer cross-multiplication in cents::

        flag ⇔ (n·x − Σx)² > z² · (n·Σx² − (Σx)²)   [and n ≥ min_prior]

    (both sides are the n²-scaled forms of (x−mean)² and z²·var_pop),
    so no float epsilon can disagree with the batch oracle. Int64
    headroom: |x| ≤ 1e7 cents and n·|x| ≤ 1.5e9 keep both squares under
    2^63; the fold raises loudly beyond (the ``jl_distortion_report``
    guard discipline).

    Ordering contract (shared with ``streaming_markov_transitions``):
    within a micro-batch events sort by (ts, event_id); across batches
    the file source delivers in event-time order on the fixture. The
    oracle is the batch replay — a strictly-prior cumulative window per
    user.

    Output: the flagged events with their evidence — (event_id,
    user_id, value_c, n_prior, dev2, thr2), ordered by event_id.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    # source_dir/source_glob let tests stream a SPLIT fixture (one file
    # per trigger) so cross-micro-batch state carry is exercised; the
    # schema always comes from the canonical sf_dir table
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("pathGlobFilter", source_glob)
        .parquet(source_dir or sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    events = stream.select("event_id", "user_id", "ts", "value").withColumn(
        "value_c",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
    )

    mp, zz = int(min_prior), int(z2)

    def _fold(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        n, s, ss = state.get if state.exists else (0, 0, 0)
        out = []
        for eid, x in zip(
            pdf["event_id"].tolist(), pdf["value_c"].tolist()
        ):
            x = int(x)
            if abs(x) > 10_000_000 or n * abs(x) > 1_500_000_000:
                raise ValueError(
                    "streaming_zscore_anomaly: value/count exceed the "
                    "documented int64 z-test headroom"
                )
            if n >= mp:
                dev = n * x - s
                dev2 = dev * dev
                thr2 = zz * (n * ss - s * s)
                if dev2 > thr2:
                    out.append((int(eid), x, n, dev2, thr2))
            n += 1
            s += x
            ss += x * x
        state.update((int(n), int(s), int(ss)))
        if out:
            yield pd.DataFrame(
                out,
                columns=["event_id", "value_c", "n_prior", "dev2", "thr2"],
            ).assign(user_id=key[0])

    flagged = events.groupBy("user_id").applyInPandasWithState(
        _fold,
        outputStructType=(
            "event_id bigint, value_c bigint, n_prior bigint, "
            "dev2 bigint, thr2 bigint, user_id bigint"
        ),
        stateStructType="n bigint, s bigint, ss bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = _run_to_table(
        flagged, "append", partitions=_py_state_partitions(spark)
    )
    return sunk.select(
        "event_id", "user_id", "value_c", "n_prior", "dev2", "thr2"
    ).orderBy("event_id")


def streaming_zscore_anomaly_oracle_sql(
    min_prior: int = 5, z2: int = 9
) -> str:
    """DuckDB twin of :func:`streaming_zscore_anomaly` — the batch
    replay: a strictly-prior cumulative window per user over the same
    (ts, event_id) order and the identical integer z-test."""
    return f"""
WITH e AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c
  FROM events
), w AS (
  SELECT event_id, user_id, value_c,
         count(*) OVER win AS n,
         coalesce(sum(value_c) OVER win, 0) AS s,
         coalesce(sum(value_c * value_c) OVER win, 0) AS ss
  FROM e WINDOW win AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, value_c,
       n::BIGINT AS n_prior,
       ((n*value_c - s) * (n*value_c - s))::BIGINT AS dev2,
       ({z2} * (n*ss - s*s))::BIGINT AS thr2
FROM w
WHERE n >= {min_prior}
  AND (n*value_c - s) * (n*value_c - s) > {z2} * (n*ss - s*s)
ORDER BY event_id
"""


def streaming_bottomk_sample(
    spark: SparkSession,
    sf_dir: str,
    k: int = 50,
    n_shards: int = 16,
    source_dir: str | None = None,
    source_glob: str = "documents.parquet",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Deterministic uniform sample of a STREAM — the bottom-k sketch:
    the sample is the ``k`` documents with the smallest portable
    content hash seen so far, which equals the batch bottom-k over the
    same corpus no matter how the stream was chunked (bottom-k is the
    order-free, mergeable form of reservoir sampling; the hash is the
    shared ``stable_hash64`` md5 bucket, so exact duplicates sample
    together and the oracle replays it verbatim).

    Streaming shape: per hash-shard, ``applyInPandasWithState`` keeps
    the shard's current bottom-k (ids + the k-th threshold) and emits
    ONLY rows that enter it — emission is append-safe because a row
    once inside a shard's bottom-k may later be displaced, but the
    batch-side finalize re-ranks over everything emitted, and any row
    of the TRUE global bottom-k necessarily entered its shard's
    bottom-k at arrival. At scale the state is shards × k rows forever, and
    per-batch emission decays toward zero as thresholds tighten — the
    property that makes bottom-k the production stream sampler.

    Output: the k sampled docs, (doc_id, h), ordered by hash then id.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.window import Window

    from mapreduceindex_spark.functions.text import stable_hash64
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("pathGlobFilter", source_glob)
        .parquet(source_dir or sf_dir)
    )
    hashed = stream.select(
        "doc_id",
        stable_hash64(F.col("text")).alias("h"),
    ).withColumn("_shard", F.col("h") % n_shards)

    kk = int(k)

    def _fold(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks)
        cur = list(zip(*state.get)) if state.exists else []
        # merge batch rows, keep the shard's bottom-k by (h, doc_id)
        merged = sorted(
            set(cur)
            | set(
                zip(
                    (int(x) for x in pdf["h"].tolist()),
                    (int(x) for x in pdf["doc_id"].tolist()),
                )
            )
        )[:kk]
        new = sorted(set(merged) - set(cur))
        state.update(
            (
                [h for h, _ in merged],
                [d for _, d in merged],
            )
        )
        if new:
            yield pd.DataFrame(
                {"doc_id": [d for _, d in new], "h": [h for h, _ in new]}
            )

    entered = hashed.groupBy("_shard").applyInPandasWithState(
        _fold,
        outputStructType="doc_id bigint, h bigint",
        stateStructType="hs array<bigint>, ids array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = _run_to_table(
        entered, "append", partitions=_py_state_partitions(spark)
    )
    w = Window.orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        sunk.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= kk)
        .select("doc_id", "h")
        .orderBy("h", "doc_id")
    )


def streaming_bottomk_sample_oracle_sql(k: int = 50) -> str:
    """DuckDB twin of :func:`streaming_bottomk_sample` — the batch
    bottom-k over the same portable hash (bottom-k is chunking-free,
    so stream and batch agree exactly)."""
    return f"""
SELECT doc_id,
       ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
FROM documents
ORDER BY h ASC, doc_id ASC
LIMIT {int(k)}
"""


def streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online distribution-drift alarm: the LATE half's per-(type,
    cents) value histogram accumulates as streaming state (commutative
    counts — micro-batching- and order-independent, bounded by the
    value range, never by stream length), the EARLY half is the static
    baseline, and the readout is the exact-integer two-sample KS
    statistic via the SAME ``ks_stat_from_value_counts`` tail the batch
    ``ks_drift_test`` uses — stream ≡ batch by construction, pinned by
    the shared oracle.

    This is the online complement of ``streaming_event_mix_drift``
    (which watches type SHARES): here each type's value DISTRIBUTION is
    tested against its own pinned baseline with a decision threshold,
    the alarm a training-data intake pipeline keeps on continuously
    ingested streams. The early/late cut is the floored midpoint of the
    static table's event-time range (probe-then-plan: one bounds
    aggregate on the batch side; at deployment the cut is simply "when
    the baseline was frozen").
    """
    from mapreduceindex_spark.functions.exact import floor_div_sql
    from mapreduceindex_spark.operators.events import (
        ks_stat_from_value_counts,
    )
    from mapreduceindex_spark.session import ensure_session_confs, load_table

    ensure_session_confs(spark)
    static = load_table(spark, sf_dir, "events")
    mid = static.agg(
        F.expr(
            floor_div_sql(
                "min(unix_micros(ts)) + max(unix_micros(ts))", 2, "DIV"
            )
        ).alias("m")
    ).collect()[0]["m"]
    if mid is None:
        return spark.createDataFrame(
            [],
            "event_type string, n_early long, n_late long, n_values long,"
            " d_scaled long, d_ppm long, reject_05 long",
        )
    cents = "CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)"
    late = (
        _stream_events(spark, sf_dir)
        .filter(F.expr(f"unix_micros(ts) > {mid}"))
        .select("event_type", F.expr(cents).alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_table(late, "complete")
    early = (
        static.filter(F.expr(f"unix_micros(ts) <= {mid}"))
        .select("event_type", F.expr(cents).alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_value = (
        early.select(
            "event_type",
            "cents",
            F.col("n").alias("d1"),
            F.lit(0).cast("long").alias("d2"),
        )
        .unionByName(
            out.select(
                "event_type",
                "cents",
                F.lit(0).cast("long").alias("d1"),
                F.col("n").alias("d2"),
            )
        )
        .groupBy("event_type", "cents")
        .agg(F.sum("d1").alias("d1"), F.sum("d2").alias("d2"))
    )
    return ks_stat_from_value_counts(per_value)


def streaming_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gapped sequential-pattern mining ONLINE: the per-(user, type)
    first/last event timestamps accumulate as streaming state — min
    and max are commutative AND idempotent, so the summary is
    micro-batching- and order-independent and state is users×types
    rows regardless of stream length (the ``streaming_hll_distinct``
    state-shape argument). The batch-side readout runs the SAME
    ``patterns_from_first_last`` tail as the batch
    ``sequential_patterns`` — stream ≡ batch by construction, one
    shared oracle text.

    Why this state shape matters: the first-occurrence reduction means
    pattern support NEVER needs event history — two timestamps per
    (user, type) carry everything a→b counting requires, which is what
    makes gapped-pattern mining viable on an unbounded stream.
    """
    from mapreduceindex_spark.operators.events import (
        patterns_from_first_last,
    )
    from mapreduceindex_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    per = (
        _stream_events(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.min(F.expr("unix_micros(ts)")).alias("first_us"),
            F.max(F.expr("unix_micros(ts)")).alias("last_us"),
        )
    )
    out = _run_to_table(per, "complete")
    return patterns_from_first_last(out)
