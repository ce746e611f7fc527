"""Round-9 semantics tests: the timeout-sessionizer watermark guard +
earlier-session routing (r08 ADVICE), the transformWithStateInPandas
port, BPE training, span scrubbing, the JPEG codec, and the
price_qty_regression zero-variance guard."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _write_events_file(path, rows, mtime=None):
    import os

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(path))
    if mtime is not None:
        os.utime(str(path), (mtime, mtime))


# ---------------------------------------------------------------------------
# _fold_session_rows unit semantics (no Spark)
# ---------------------------------------------------------------------------


def test_fold_routes_too_early_late_event_to_earlier_session():
    """A late event strictly more than gap BEFORE the live session's
    start becomes its own closed session (global-order rule), not a
    backward extension of the live one (r08 ADVICE #2)."""
    from mapreduceindex_spark.streaming.pipelines import _fold_session_rows

    gap_us = 1800 * 1_000_000
    # live session [10000s, 10000s]; late event at 7000s (3000s before
    # start), then an on-time event at 10100s
    last, start, n, closed = _fold_session_rows(
        7,
        [(7_000 * 10**6, 1), (10_100 * 10**6, 2)],
        10_000 * 10**6,
        10_000 * 10**6,
        1,
        gap_us,
    )
    assert closed == [(7, 7_000 * 10**6, 7_000 * 10**6, 1)]
    assert (last, start, n) == (10_100 * 10**6, 10_000 * 10**6, 2)


def test_fold_chains_early_events_and_merges_reaching_chain():
    """Early events chain among themselves; a chain whose tail reaches
    within gap of the live start folds INTO the live session (that is
    what global order would produce)."""
    from mapreduceindex_spark.streaming.pipelines import _fold_session_rows

    gap_us = 1800 * 1_000_000
    s = 10**6
    # live [10000, 10000]; early events 100, 200 (one chain, closed) and
    # 8400 (within gap of start 10000 -> folds into live)
    last, start, n, closed = _fold_session_rows(
        7,
        [(100 * s, 1), (200 * s, 2), (8_400 * s, 3)],
        10_000 * s,
        10_000 * s,
        1,
        gap_us,
    )
    assert closed == [(7, 100 * s, 200 * s, 2)]
    assert (last, start, n) == (10_000 * s, 8_400 * s, 2)


def test_fold_bridge_through_in_between_events():
    """Same-batch late events between start−gap and start can BRIDGE a
    far-earlier chain to the live session: every hop gap ≤ threshold,
    so global order keeps ONE session — the fold must not close the
    early chain against the live session's ORIGINAL start (review
    catch, r09)."""
    from mapreduceindex_spark.streaming.pipelines import _fold_session_rows

    gap_us = 1800 * 1_000_000
    s = 10**6
    # live [10000, 10000]; batch delivers 8100, 8300, 9000 — 8100 is
    # more than gap below 10000 but hops 8100→8300→9000→10000 are all
    # ≤ gap: one 4-event session
    last, start, n, closed = _fold_session_rows(
        7,
        [(8_100 * s, 1), (8_300 * s, 2), (9_000 * s, 3)],
        10_000 * s,
        10_000 * s,
        1,
        gap_us,
    )
    assert closed == []
    assert (last, start, n) == (10_000 * s, 8_100 * s, 4)


def test_fold_backward_extension_never_rewinds_last():
    from mapreduceindex_spark.streaming.pipelines import _fold_session_rows

    gap_us = 1800 * 1_000_000
    s = 10**6
    last, start, n, closed = _fold_session_rows(
        7, [(9_500 * s, 1)], 10_000 * s, 10_000 * s, 1, gap_us
    )
    assert closed == []
    assert (last, start, n) == (10_000 * s, 9_500 * s, 2)


# ---------------------------------------------------------------------------
# forced multi-batch sessionizer behavior (both arbitrary-state APIs)
# ---------------------------------------------------------------------------


def _staged_session_fixture(tmp_path):
    """Three files in mtime order forcing three micro-batches:

    A: u1 @10000s, u9 @10000s            (wm for B = 6400s)
    B: u1 @7000s (admissible, > gap before u1's live start -> separate
       earlier session), u1 @10100s (extends live)
    C: u9 @20000s (splits u9's old session in-stream; final wm 16400s
       closes u1's live session via timeout; u9's new session withheld)
    """
    import time

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    sec = dt.timedelta(seconds=1)
    src = tmp_path / "src"
    src.mkdir()
    base = time.time() - 1000
    _write_events_file(
        src / "a.parquet",
        [(1, t0 + 10_000 * sec, 1, "view"), (2, t0 + 10_000 * sec, 9, "view")],
        base,
    )
    _write_events_file(
        src / "b.parquet",
        [(3, t0 + 7_000 * sec, 1, "view"), (4, t0 + 10_100 * sec, 1, "view")],
        base + 10,
    )
    _write_events_file(
        src / "c.parquet", [(5, t0 + 20_000 * sec, 9, "view")], base + 20
    )
    epoch = dt.datetime(1970, 1, 1)
    t0us = int((t0 - epoch).total_seconds()) * 10**6
    expected = [
        (1, t0us + 7_000 * 10**6, t0us + 7_000 * 10**6, 1),
        (1, t0us + 10_000 * 10**6, t0us + 10_100 * 10**6, 2),
        (9, t0us + 10_000 * 10**6, t0us + 10_000 * 10**6, 1),
    ]
    return str(src), expected


def _one_file_per_trigger(spark, src):
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        # same NTZ normalization as the real _stream_events —
        # withWatermark rejects TIMESTAMP_NTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def test_timeout_sessions_late_event_paths(spark, tmp_path, monkeypatch):
    """Forced three-batch run of the applyInPandasWithState sessionizer:
    cross-batch state, the earlier-session routing of a too-early late
    event, and timeout emission — no INVALID_TIMEOUT_TIMESTAMP crash
    anywhere in the multi-batch run (r08 ADVICE #1/#2).

    Residual divergence pinned here: the 7000s event is emitted as its
    own session; a global-order replay that could retract batch-A
    emissions might merge differently — append mode cannot, and the
    registry fixture (single batch = global order) never hits this."""
    from mapreduceindex_spark.streaming import pipelines as P

    src, expected = _staged_session_fixture(tmp_path)
    monkeypatch.setattr(
        P, "_stream_events", lambda spark_, _dir: _one_file_per_trigger(spark_, src)
    )
    out = [
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in P.streaming_timeout_sessions(spark, "unused").collect()
    ]
    assert out == expected


def _tws_available():
    from __spark_entry__ import _tws_runtime_available

    return _tws_runtime_available()


def test_tws_blocker_pinned_or_port_registered():
    """Pins the documented transformWithStateInPandas blocker: pyspark
    4.1.2's TWS state-server protocol is protobuf-encoded
    (StateMessage_pb2 → google.protobuf) and this environment ships no
    protobuf package, so the port cannot START a query here (probed:
    [STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE] ImportError at
    query start; the API surface imports fine). The registry entry
    self-enables when protobuf appears — this test flips from pinning
    the blocker to asserting the registration, so a quietly-changed
    environment cannot leave the port dormant."""
    import __spark_entry__ as E

    registered = "streaming_timeout_sessions_tws" in E._all_queries()
    assert registered == _tws_available()
    if not _tws_available():
        with pytest.raises(ImportError):
            import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401


@pytest.mark.skipif(
    not _tws_available(),
    reason="transformWithStateInPandas needs the protobuf package "
    "(pinned in test_tws_blocker_pinned_or_port_registered)",
)
def test_tws_port_matches_applyinpandas_sessionizer(spark, tmp_path, monkeypatch):
    """The transformWithStateInPandas port emits the identical session
    set on the same forced three-batch fixture — one ground truth, two
    arbitrary-state APIs (explicit timers + RocksDB provider)."""
    from mapreduceindex_spark.streaming import pipelines as P

    src, expected = _staged_session_fixture(tmp_path)
    monkeypatch.setattr(
        P, "_stream_events", lambda spark_, _dir: _one_file_per_trigger(spark_, src)
    )
    out = [
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in P.streaming_timeout_sessions_tws(spark, "unused").collect()
    ]
    assert out == expected


# ---------------------------------------------------------------------------
# BPE training
# ---------------------------------------------------------------------------


def test_bpe_train_merge_order_hand_checked(spark):
    """Hand-checkable merge order: 'abab' ×3 + 'ab' ×2 + 'cd' ×4.

    Pair counts round 1: (a,b) = 3·2 + 2 = 8, (b,a) = 3, (c,d) = 4 →
    merge 1 = (a,b). Round 2: (ab,ab) = 3, (c,d) = 4 → merge 2 = (c,d).
    Round 3: (ab,ab) = 3 → merge 3. Round 4: no pairs left → early
    stop at 3 merges."""
    from mapreduceindex_spark.operators.text_analysis import bpe_train

    docs = spark.createDataFrame(
        [(0, "abab abab abab ab ab cd cd cd cd")],
        "doc_id long, text string",
    )
    rows = [tuple(r) for r in bpe_train(docs, num_merges=8).collect()]
    assert rows == [
        (1, "a", "b", "ab", 8),
        (2, "c", "d", "cd", 4),
        (3, "ab", "ab", "abab", 3),
    ]


def test_bpe_greedy_replace_run_semantics(spark):
    """The engine-native string replace continues AFTER the inserted
    replacement — greedy non-overlapping BPE on a run: 'aaaaa' with
    merge (a,a) segments as [aa, aa, a], so pair counts in the NEXT
    round see (aa,aa) = 1 and (aa,a) = 1."""
    from mapreduceindex_spark.operators.text_analysis import bpe_train

    docs = spark.createDataFrame(
        [(0, "aaaaa")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_train(docs, num_merges=2).collect()]
    # round 1: (a,a) count 4 (adjacent positions in 'aaaaa')
    assert rows[0] == (1, "a", "a", "aa", 4)
    # round 2 on [aa, aa, a]: (aa,aa)=1 and (aa,a)=1 tie on count;
    # (aa,a) < (aa,aa) lexicographically on r
    assert rows[1] == (2, "aa", "a", "aaa", 1)


def test_bpe_fertility_learned_consistent(spark):
    """Fertility readout equals a by-hand re-segmentation with the
    learned merges (frequency-weighted, exact micro units)."""
    from mapreduceindex_spark.operators.text_analysis import (
        bpe_fertility_learned,
    )

    docs = spark.createDataFrame(
        [(0, "abab abab ab"), (1, "ab cd")], "doc_id long, text string"
    )
    row = bpe_fertility_learned(docs, num_merges=2).collect()[0]
    # merges: (a,b) then (ab,ab) [count 2 beats (c,d) count 1? round 2
    # pairs: (ab,ab)=2 from 'abab'×2, (c,d)=1 -> (ab,ab)]
    # final segmentations: abab=[abab] (1 tok), ab=[ab] (1), cd=[c,d] (2)
    # n_words = 5, n_chars = 4+4+2+2+2 = 14, n_tokens = 1+1+1+1+2 = 6
    assert (row["n_words"], row["n_chars"], row["n_tokens"]) == (5, 14, 6)
    assert row["tokens_per_word_micro"] == 6 * 1_000_000 // 5
    assert row["tokens_per_char_micro"] == 6 * 1_000_000 // 14


# ---------------------------------------------------------------------------
# span scrub
# ---------------------------------------------------------------------------

_PASSAGE = "alpha bravo charlie delta echo foxtrot golf hotel india"


def _scrub_docs(spark):
    return spark.createDataFrame(
        [
            (0, _PASSAGE + " unique owner tail"),
            (1, "one two three " + _PASSAGE),
            (2, _PASSAGE),
            (3, "no shared passage here at all"),
        ],
        "doc_id long, text string",
    )


def test_span_scrub_owner_keeps_copies_lose(spark):
    from mapreduceindex_spark.operators.dedup import span_scrub

    out = {r["doc_id"]: r for r in span_scrub(_scrub_docs(spark)).collect()}
    # doc 0 is the min-doc_id owner of every hot ngram: keeps everything
    assert out[0]["n_removed_words"] == 0
    assert out[0]["scrubbed_text"].startswith("alpha bravo")
    # doc 1: the 9-word passage is covered; its own prefix survives
    assert out[1]["scrubbed_text"] == "one two three"
    assert out[1]["n_removed_words"] == 9
    assert out[1]["n_removed_chars"] == len(_PASSAGE.replace(" ", ""))
    # doc 2 is the passage alone: fully scrubbed
    assert out[2]["scrubbed_text"] == ""
    assert out[2]["n_words"] == 9 and out[2]["n_removed_words"] == 9
    # doc 3 untouched
    assert out[3]["n_removed_words"] == 0
    assert out[3]["scrubbed_text"] == "no shared passage here at all"


def test_span_scrub_idempotent(spark):
    """scrub(scrub(x)) = scrub(x): after one pass each hot ngram
    survives only in its owner (df = 1), so a second pass over the
    scrubbed corpus removes nothing."""
    from mapreduceindex_spark.operators.dedup import span_scrub

    first = span_scrub(_scrub_docs(spark))
    docs2 = first.select(
        "doc_id", F.col("scrubbed_text").alias("text")
    )
    second = {r["doc_id"]: r for r in span_scrub(docs2).collect()}
    for r in first.collect():
        again = second[r["doc_id"]]
        assert again["n_removed_words"] == 0
        assert again["scrubbed_text"] == r["scrubbed_text"]


# ---------------------------------------------------------------------------
# JPEG codec
# ---------------------------------------------------------------------------


def test_jpeg_dc_roundtrip_exact():
    """DC-only blocks with q_dc = 8 decode to EXACTLY dc + 128 — the
    property the media_decode_jpeg oracle builds on (negative DCs and
    DPCM chains included)."""
    from mapreduceindex_spark.functions import codecs

    blocks = (np.arange(6 * 5).reshape(6, 5) * 7 % 251) - 128
    dec = codecs.jpeg_decode(codecs.jpeg_encode_gray_dc(blocks))
    exp = np.clip(
        np.repeat(np.repeat(blocks, 8, 0), 8, 1) + 128, 0, 255
    ).astype(np.uint8)
    assert dec.shape == (48, 40)
    assert (dec == exp).all()


def _encode_one_block_jpeg(coef_zigzag, quant):
    """Test-local baseline encoder for ONE 8×8 block with arbitrary
    zig-zag coefficients — minimal custom Huffman tables sized to the
    (run, size) symbols actually present, so the decoder's AC loop,
    ZRL/EOB handling, dezigzag, dequant and float IDCT are exercised
    independently of the DC-only production encoder."""
    import struct

    from mapreduceindex_spark.functions.codecs import JPEG_ZIGZAG, _BitWriter

    def cat(v):
        return abs(v).bit_length()

    # collect symbols: DC category; AC (run, size) pairs
    dc = coef_zigzag[0]
    ac_syms = []
    run = 0
    k = 1
    while k < 64:
        v = coef_zigzag[k]
        if v == 0:
            run += 1
        else:
            while run > 15:
                ac_syms.append((0xF0, 0))
                run -= 16
            ac_syms.append(((run << 4) | cat(v), v))
            run = 0
        k += 1
    ac_syms.append((0x00, 0))  # EOB
    dc_vals = sorted({cat(dc)})
    ac_vals = sorted({s for s, _ in ac_syms})
    # one shared code length: give every value a fixed-length code
    def table(vals):
        ln = max(1, (len(vals)).bit_length())
        bits = [0] * 16
        bits[ln - 1] = len(vals)
        return ln, bits, vals

    dc_ln, dc_bits, dc_tbl = table(dc_vals)
    ac_ln, ac_bits, ac_tbl = table(ac_vals)
    out = bytearray(b"\xff\xd8")
    qz = bytes([quant[JPEG_ZIGZAG[i]] for i in range(64)])
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qz
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes(
        [1, 0x11, 0]
    )
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 19 + len(dc_tbl))
        + b"\x00"
        + bytes(dc_bits)
        + bytes(dc_tbl)
    )
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 19 + len(ac_tbl))
        + b"\x10"
        + bytes(ac_bits)
        + bytes(ac_tbl)
    )
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0, 0, 63, 0])
    bw = _BitWriter()

    def emit(tbl_vals, ln, sym):
        bw.write(tbl_vals.index(sym), ln)

    s = cat(dc)
    emit(dc_tbl, dc_ln, s)
    if s:
        bw.write(dc if dc >= 0 else dc + (1 << s) - 1, s)
    for sym, v in ac_syms:
        emit(ac_tbl, ac_ln, sym)
        sz = sym & 0x0F
        if sz:
            bw.write(v if v >= 0 else v + (1 << sz) - 1, sz)
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def test_jpeg_general_ac_block_matches_reference_idct():
    """A block with AC coefficients (ZRL and negative values included)
    decodes to the independently computed IDCT — pins Huffman decode,
    dezigzag, dequant and the float IDCT against numpy, not against
    the encoder's own assumptions."""
    from mapreduceindex_spark.functions import codecs

    coef = [0] * 64
    coef[0] = -14  # DC
    coef[1] = 21
    coef[2] = -9
    coef[5] = 4
    coef[20] = -3
    coef[40] = 7  # forces a >15 zero run (ZRL) between 20 and 40
    quant = [16 + (i % 7) for i in range(64)]
    data = _encode_one_block_jpeg(coef, quant)
    dec = codecs.jpeg_decode(data)
    # independent reference: dezigzag -> dequant -> orthonormal IDCT
    blk = np.zeros(64, dtype=np.float64)
    for z in range(64):
        blk[codecs.JPEG_ZIGZAG[z]] = coef[z]
    blk = blk.reshape(8, 8) * np.array(quant, dtype=np.float64).reshape(8, 8)
    m = codecs._jpeg_idct_matrix()
    ref = np.clip(np.round(m.T @ blk @ m) + 128, 0, 255).astype(np.uint8)
    assert dec.shape == (8, 8)
    assert (dec == ref).all()


def test_bpe_dry_run_matches_oracle(spark):
    """A corpus whose merges run dry before num_merges must agree
    between the Spark early-break and the unrolled oracle: the oracle's
    dry iterations carry the frame through a LEFT JOIN instead of
    emptying it (review catch, r09)."""
    import duckdb

    import __spark_entry__ as E
    from mapreduceindex_spark.operators.text_analysis import (
        bpe_fertility_learned,
        bpe_train,
    )

    for text, exp_merges in [("a b c a b", 0), ("ab ab cd", 2)]:
        docs = spark.createDataFrame(
            [(0, text)], "doc_id long, text string"
        )
        got_m = [tuple(r) for r in bpe_train(docs, 8).collect()]
        got_f = tuple(bpe_fertility_learned(docs, 8).collect()[0])
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT 0::BIGINT AS doc_id,"
            f" '{text}' AS text"
        )
        exp_m = [tuple(r) for r in con.execute(
            E._bpe_train_oracle_sql(8)
        ).fetchall()]
        exp_f = tuple(con.execute(E._bpe_fertility_oracle_sql(8)).fetchone())
        assert len(got_m) == exp_merges
        assert got_m == exp_m
        assert got_f == exp_f


def test_jpeg_truncated_payload_raises_value_error():
    """A payload that sniffs as JPEG on its 3 magic bytes but is
    truncated must fail with the loud ValueError, never an IndexError
    from running off the buffer (review catch, r09)."""
    from mapreduceindex_spark.functions import codecs

    full = codecs.jpeg_encode_gray_dc(np.zeros((1, 1), dtype=np.int64))
    for cut in (3, 10, len(full) - 3):
        with pytest.raises(ValueError):
            codecs.jpeg_decode(full[:cut])


def test_jpeg_rejects_progressive_and_subsampled():
    from mapreduceindex_spark.functions import codecs

    base = codecs.jpeg_encode_gray_dc(np.zeros((1, 1), dtype=np.int64))
    prog = bytearray(base)
    idx = bytes(prog).index(b"\xff\xc0")
    prog[idx + 1] = 0xC2  # SOF2 progressive
    with pytest.raises(NotImplementedError, match="baseline"):
        codecs.jpeg_decode(bytes(prog))
    sub = bytearray(base)
    # component sampling byte: SOF0 body = len(2) P(1) H(2) W(2) N(1),
    # then [id, samp, tq]
    sub[idx + 2 + 8 + 1] = 0x22
    with pytest.raises(NotImplementedError, match="subsampling"):
        codecs.jpeg_decode(bytes(sub))


def test_jpeg_sniff_and_decode_media():
    from mapreduceindex_spark.functions import codecs
    from mapreduceindex_spark.operators.multimodal import decode_media

    data = codecs.jpeg_encode_gray_dc(np.zeros((2, 3), dtype=np.int64))
    assert codecs.sniff_media(data) == "jpeg"
    meta = decode_media(data)
    assert meta == {
        "kind": "jpeg", "width": 24, "height": 16, "channels": 1
    }


# ---------------------------------------------------------------------------
# price_qty_regression zero-variance guard
# ---------------------------------------------------------------------------


def test_price_qty_regression_zero_variance_raises_both_engines(spark):
    """Degenerate input (all quantities equal) fails LOUDLY and
    identically on both engines instead of Spark returning NULL while
    DuckDB raises division-by-zero (r08 ADVICE #3)."""
    import duckdb

    from mapreduceindex_spark.operators.relational import (
        price_qty_regression,
    )

    li = spark.createDataFrame(
        [(5.0, 100.0), (5.0, 200.0)],
        "l_quantity double, l_extendedprice double",
    )
    with pytest.raises(Exception, match="zero quantity variance"):
        price_qty_regression(li).collect()

    import __spark_entry__ as E

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT 5.0 AS l_quantity,"
        " 100.0 AS l_extendedprice UNION ALL SELECT 5.0, 200.0"
    )
    with pytest.raises(Exception, match="zero quantity variance"):
        con.execute(E.oracle_sql()["price_qty_regression"]).fetchall()


# ---------------------------------------------------------------------------
# lsh_recall shared front end
# ---------------------------------------------------------------------------


def test_lsh_recall_equals_public_leg_composition(spark):
    """The shared-shingle-frame refactor changes the PLAN, not the
    semantics: lsh_recall equals the mark-join composition of the two
    public operators it calibrates."""
    from mapreduceindex_spark.operators.dedup import (
        lsh_recall,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark joins shuffle data across the cluster nodes"),
            (1, "spark joins shuffle data across the cluster racks"),
            (2, "spark joins shuffle data across the cluster nodes"),
            (3, "an entirely different document about nothing shared"),
            (4, "postgres indexes btree pages on disk storage layout"),
        ],
        "doc_id long, text string",
    )
    got = lsh_recall(docs).collect()[0]
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs, n=3, num_hashes=16, bands=4, threshold=0.5
        ).collect()
    }
    n_true = len(truth)
    n_found = len(truth & found)
    assert (got["n_true"], got["n_found"]) == (n_true, n_found)
    assert got["recall_ppm"] == (
        0 if n_true == 0 else n_found * 1_000_000 // n_true
    )


def test_threshold_curve_consistent_with_pair_search(spark):
    """The curve's n_pairs at t equals |ngram_jaccard_pairs(t)| for
    every swept threshold, and both columns are monotone non-increasing
    in t — one pair search, N policies."""
    from mapreduceindex_spark.operators.dedup import (
        near_dup_threshold_curve,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark joins shuffle data across the cluster nodes"),
            (1, "spark joins shuffle data across the cluster racks"),
            (2, "spark joins shuffle data across the cluster nodes"),
            (3, "an entirely different document about nothing shared"),
            (4, "spark joins shuffle information across many racks"),
        ],
        "doc_id long, text string",
    )
    curve = {
        r["threshold_ppm"]: (r["n_pairs"], r["n_docs_affected"])
        for r in near_dup_threshold_curve(docs).collect()
    }
    assert set(curve) == {300000, 500000, 700000, 900000, 1000000}
    for t_ppm in curve:
        n = ngram_jaccard_pairs(docs, n=3, threshold=t_ppm / 1e6).count()
        assert curve[t_ppm][0] == n, t_ppm
    seq = [curve[t] for t in sorted(curve)]
    assert all(a[0] >= b[0] and a[1] >= b[1] for a, b in zip(seq, seq[1:]))


def test_gif_multi_frame_roundtrip_and_scope():
    """Multi-frame GIF: every frame round-trips exactly through the
    multi-descriptor LZW path (each frame's dictionary is independent —
    a cross-frame state leak would scramble later frames); the
    single-frame decoder still reads frame 0 of an animation; and a
    partial-rect frame is rejected loudly (no composition semantics)."""
    from mapreduceindex_spark.functions import codecs

    pal = np.stack(
        [np.arange(128), 2 * np.arange(128), 255 - np.arange(128)], axis=1
    ).astype(np.uint8)
    xs = np.arange(6)[None, :]
    ys = np.arange(5)[:, None]
    frames = [
        ((10 + (7 * f) % 10 + xs + 3 * ys)).astype(np.uint8)
        for f in range(4)
    ]
    data = codecs.gif_encode_frames(frames, pal)
    dec = codecs.gif_decode_frames(data)
    assert len(dec) == 4
    for f in range(4):
        assert (dec[f] == pal[frames[f]]).all()
    assert (codecs.gif_decode(data) == pal[frames[0]]).all()

    # partial-rect frame: corrupt frame 2's descriptor left-offset
    mut = bytearray(data)
    descs = []
    i = 0
    while True:
        i = bytes(mut).find(b"\x2c", i)
        if i < 0:
            break
        descs.append(i)
        i += 1
    # descriptor layout: 0x2C left(2) top(2) w(2) h(2) packed(1)
    target = next(
        d for d in descs
        if mut[d + 1 : d + 9]
        == __import__("struct").pack("<HHHH", 0, 0, 6, 5)
    )
    mut[target + 1] = 1  # left = 1
    with pytest.raises(NotImplementedError, match="partial-rect"):
        codecs.gif_decode_frames(bytes(mut))


# ---------------------------------------------------------------------------
# centroid_classifier (supervised Rocchio with hash held-out split)
# ---------------------------------------------------------------------------


def test_centroid_classifier_hand_fixture(spark):
    """Fit on the md5-bucket train rows only, classify the held-out rows
    by integer argmin, and pin the exact confusion cells INCLUDING the
    winning distances (hence the floored-mean centroids).

    Buckets (md5(str(id))[:15] % 100): ids 1-5,7 train (<80); 6,9,11
    held out (>=80). Label-0 train {1,2,3} -> centroid (100000, 0);
    label-1 train {4,5,7} -> centroid (1000000, 1000000), both exact
    floored means. Held-out: id 6 (label 0) -> c0 at dist 5e9; id 9
    (label 1) -> c1 at 2.5e9; id 11 (label 1, borderline) -> c1 at
    3.2e11.
    """
    from mapreduceindex_spark.operators.clustering import centroid_classifier

    rows = [
        (1, [0.0, 0.1], 0),
        (2, [0.2, -0.1], 0),
        (3, [0.1, 0.0], 0),
        (4, [1.0, 1.0], 1),
        (5, [0.9, 1.1], 1),
        (7, [1.1, 0.9], 1),
        (6, [0.05, 0.05], 0),
        (9, [1.0, 0.95], 1),
        (11, [0.6, 0.6], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    got = [tuple(r) for r in centroid_classifier(emb).collect()]
    assert got == [
        (0, 0, 1, 5_000_000_000),
        (1, 1, 2, 322_500_000_000),
    ]


def test_centroid_classifier_ignores_heldout_in_fit(spark):
    """Moving a HELD-OUT vector must not move any centroid: the fit is
    train-split-only (the leakage rule the operator exists to uphold).
    Held-out id 6's winning distance is unchanged when held-out id 9
    teleports across the space, even though a full-table fit would have
    dragged label-1's centroid with it."""
    from mapreduceindex_spark.operators.clustering import centroid_classifier

    base = [
        (1, [0.0, 0.1], 0),
        (2, [0.2, -0.1], 0),
        (3, [0.1, 0.0], 0),
        (4, [1.0, 1.0], 1),
        (5, [0.9, 1.1], 1),
        (7, [1.1, 0.9], 1),
        (6, [0.05, 0.05], 0),
    ]
    schema = "vec_id long, embedding array<double>, label long"
    a = spark.createDataFrame(
        base + [(9, [1.0, 0.95], 1)], schema
    )
    b = spark.createDataFrame(
        base + [(9, [-5.0, -5.0], 1)], schema
    )
    cell_a = [
        tuple(r)
        for r in centroid_classifier(a).collect()
        if r["label"] == 0
    ]
    cell_b = [
        tuple(r)
        for r in centroid_classifier(b).collect()
        if r["label"] == 0
    ]
    assert cell_a == cell_b == [(0, 0, 1, 5_000_000_000)]


# ---------------------------------------------------------------------------
# partitioned_scan_prune (directory-tier partition pruning lifecycle)
# ---------------------------------------------------------------------------


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, day, hour), uid, et, val, "{}")
            for i, (day, hour, uid, et, val) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_partitioned_scan_prune_values_and_partition_filter(spark):
    """The trailing-7-day readout is exact AND the read-back scan's plan
    carries the day_num predicate as a PARTITION filter (directory
    pruning), not a data filter over all partitions."""
    from mapreduceindex_spark.operators.layout import partitioned_scan_prune

    # days 1..10; max day = 10 -> window covers days 4..10 only
    events = _mk_events(
        spark,
        [(d, 0, 1, "view", 1.25) for d in range(1, 11)]
        + [(10, 5, 2, "purchase", 2.50)],
    )
    out = partitioned_scan_prune(events, last_days=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the predicate must appear among the partition filters, i.e. the
    # pruned scan, not a post-scan Filter over day_num
    import re

    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "day_num" in pf.group(1) and ">=" in pf.group(1)
    day0 = (dt.datetime(2024, 1, 4) - dt.datetime(1970, 1, 1)).days
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        *[(day0 + k, "view", 1, 1.25) for k in range(7)],
    ][:6] + [(day0 + 6, "purchase", 1, 2.50), (day0 + 6, "view", 1, 1.25)]


def test_partitioned_scan_prune_reads_only_surviving_files(spark):
    """File-level proof: the executed scan reads <= last_days of the 10
    written day-partitions (directory pruning measured, not just
    plan-printed)."""
    from mapreduceindex_spark.operators.layout import partitioned_scan_prune

    events = _mk_events(
        spark, [(d, 0, 1, "view", 1.0) for d in range(1, 11)]
    )
    out = partitioned_scan_prune(events, last_days=3)
    assert out.count() == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the FileScan line reports the post-pruning partition count
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # format varies across Spark minors; the filter assert above
        assert int(m.group(1)) <= 3


# ---------------------------------------------------------------------------
# revenue_acf (integer autocorrelation of the daily revenue series)
# ---------------------------------------------------------------------------


def _mk_orders(spark, rows):
    return spark.createDataFrame(
        [
            (i, 1, "O", float(price), dt.date(2024, 1, day), "1-URGENT", "c", 0, "")
            for i, (day, price) in enumerate(rows)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority int, o_comment string",
    )


def test_revenue_acf_alternating_series_hand_values(spark):
    """Alternating 0 / 10000-kilodollar days: mean 5000, z = ±5000,
    den = 8·25e6 = 2e8; lag-1 has 7 all-negative products (num −1.75e8
    -> −875000 ppm), lag-2 has 6 all-positive (num 1.5e8 -> 750000 ppm)."""
    from mapreduceindex_spark.operators.relational import revenue_acf

    orders = _mk_orders(
        spark,
        [(d, 100.00 if d % 2 == 1 else 10_000_000.00) for d in range(1, 9)],
    )
    rows = {r["lag"]: tuple(r) for r in revenue_acf(orders, max_lag=2).collect()}
    assert rows[1] == (1, 7, -175_000_000, 200_000_000, -875_000)
    assert rows[2] == (2, 6, 150_000_000, 200_000_000, 750_000)


def test_revenue_acf_overflow_guard_raises(spark):
    """A series whose variance exceeds the ppm-fold bound must raise the
    named error on the Spark side (never wrap silently)."""
    from pyspark.errors import SparkRuntimeException

    from mapreduceindex_spark.operators.relational import revenue_acf

    orders = _mk_orders(
        spark, [(1, 100.00), (2, 8_000_000_000.00)]
    )
    with pytest.raises(SparkRuntimeException, match="revenue_acf"):
        revenue_acf(orders, max_lag=1).collect()


# ---------------------------------------------------------------------------
# leakage_safe_split (cluster-level train/valid/test assignment)
# ---------------------------------------------------------------------------


def test_leakage_safe_split_rescues_straddling_near_dup(spark):
    """Two near-dups (shingle jaccard 0.6) whose OWN content buckets
    land on opposite sides of the boundary (23 -> train, 91 -> test)
    must both follow the representative's split, and the disagreeing
    member is counted as rescued. A singleton keeps its own bucket."""
    from mapreduceindex_spark.operators.corpus import leakage_safe_split

    a = "alpha beta gamma delta epsilon zeta"    # md5 bucket 23 (train)
    b = "alpha beta gamma delta epsilon sigma"   # md5 bucket 91 (test)
    c = "foo bar baz qux quux corge"             # md5 bucket 97 (test)
    docs = spark.createDataFrame(
        [
            (1, a, "en", "s", len(a)),
            (2, b, "en", "s", len(b)),
            (3, c, "en", "s", len(c)),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = [tuple(r) for r in leakage_safe_split(docs).collect()]
    assert rows == [
        ("test", 1, 1, len(c), 0),
        ("train", 2, 1, len(a) + len(b), 1),
    ]


# ---------------------------------------------------------------------------
# cdc_chunk_dedup (content-defined chunking, shift-robust)
# ---------------------------------------------------------------------------


def _cdc_reference(words_by_doc, window=3, divisor=8):
    """Independent tiny reimplementation (hashlib, pure Python) of the
    clamp-free CDC rule — the numpy-IDCT style cross-check."""
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    chunks = {}
    for doc, ws in words_by_doc.items():
        cut = [
            1
            if p >= window - 1
            and h60(" ".join(ws[p - window + 1 : p + 1])) % divisor == 0
            else 0
            for p in range(len(ws))
        ]
        cid, out = 0, []
        buf = []
        for p, w in enumerate(ws):
            buf.append(w)
            if cut[p]:
                out.append(" ".join(buf))
                buf = []
        if buf:
            out.append(" ".join(buf))
        chunks[doc] = out
    from collections import Counter

    occ = Counter(h60(c) for cs in chunks.values() for c in cs)
    rows = []
    for doc, cs in sorted(chunks.items()):
        dup = [c for c in cs if occ[h60(c)] >= 2]
        rows.append(
            (
                doc,
                len(cs),
                sum(len(c.split()) for c in cs),
                len(dup),
                sum(len(c.split()) for c in dup),
            )
        )
    return rows


def test_cdc_chunk_dedup_shift_robust_and_matches_reference(spark):
    """Prepending a preamble to a clone must leave its interior chunks
    byte-identical (the CDC re-synchronization property: dup chunk mass
    on BOTH docs), and the full output must equal an independent pure-
    Python reimplementation of the rule."""
    from mapreduceindex_spark.operators.dedup import cdc_chunk_dedup

    import string

    shared = [a + b for a in string.ascii_lowercase[:8] for b in "xyz"][:40]
    doc1 = " ".join(shared)
    doc2 = "pre amble junk " + doc1
    docs = spark.createDataFrame(
        [
            (1, doc1, "en", "s", len(doc1)),
            (2, doc2, "en", "s", len(doc2)),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = [tuple(r) for r in cdc_chunk_dedup(docs).collect()]
    want = _cdc_reference({1: shared, 2: "pre amble junk".split() + shared})
    assert got == want
    # the CDC property itself: despite the 3-token offset, both docs
    # carry duplicated chunk mass (fixed-width chunking aligns nothing)
    by_doc = {r[0]: r for r in got}
    assert by_doc[1][3] >= 1 and by_doc[2][3] >= 1
    assert by_doc[1][4] >= 10 and by_doc[2][4] >= 10


def test_skipgram_cooccurrence_hand_counts(spark):
    """'a b c a', window 4: unordered events a-b ×2 (positions 0-1 and
    1-3), a-c ×2 (0-2, 2-3), b-c ×1; the a-a pair (0,3) is dropped.
    Unigrams a=2 b=1 c=1, N=4 -> lifts 4.0 everywhere."""
    from mapreduceindex_spark.operators.corpus import skipgram_cooccurrence

    docs = spark.createDataFrame(
        [(1, "a b c a", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = [tuple(r) for r in skipgram_cooccurrence(docs).collect()]
    assert rows == [
        ("a b", 2, 2, 1, 4.0),
        ("a c", 2, 2, 1, 4.0),
        ("b c", 1, 1, 1, 4.0),
    ]


def test_token_burstiness_hand_stats(spark):
    """d1='a a a b', d2='b c' (N=2): a clumps (disp 2·9−9=9), c is a
    singleton (2·1−1=1), b is perfectly uniform (2·2−4=0)."""
    from mapreduceindex_spark.operators.text_analysis import token_burstiness

    docs = spark.createDataFrame(
        [(1, "a a a b", "en", "s", 7), (2, "b c", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = [tuple(r) for r in token_burstiness(docs).collect()]
    assert rows == [
        ("a", 1, 3, 9, 9),
        ("c", 1, 1, 1, 1),
        ("b", 2, 2, 2, 0),
    ]


def test_weighted_sample_integer_priorities_and_clamp(spark):
    """Priorities are exact integer hash DIV weight (no float rounding
    of the 60-bit hash), zero-mass docs clamp to weight 1, and the k
    cut keeps the smallest priorities."""
    import hashlib

    from mapreduceindex_spark.operators.corpus import weighted_sample

    texts = {1: "alpha beta gamma", 2: "delta", 3: ""}
    chars = {1: len(texts[1]), 2: len(texts[2]), 3: 0}

    def pri(t, w):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) // max(w, 1)

    docs = spark.createDataFrame(
        [(i, texts[i], "en", "s", chars[i]) for i in texts],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    want = sorted(
        (
            (i, "s", max(chars[i], 1), pri(texts[i], chars[i]))
            for i in texts
        ),
        key=lambda r: (r[3], r[0]),
    )[:2]
    got = [tuple(r) for r in weighted_sample(docs, k=2).collect()]
    assert got == want


def test_association_rules_hand_confidence_and_lift(spark):
    """Baskets {10,20},{10,20},{10}: support 10=3, 20=2, pair=2, N=3.
    10->20: conf 2e6 DIV 3 = 666666, lift 666666·3 DIV 2 = 999999.
    20->10: conf 1e6, lift 1e6·3 DIV 3 = 1e6 (exactly chance-neutral
    because 10 is in every basket containing 20... and in all baskets
    at rate 1 — the fold is floored, shown by the 999999)."""
    from mapreduceindex_spark.operators.relational import association_rules

    li = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 10)],
        "l_orderkey long, l_partkey long",
    )
    rows = [tuple(r) for r in association_rules(li).collect()]
    assert rows == [
        (10, 20, 2, 3, 2, 666666, 999999),
        (20, 10, 2, 2, 3, 1000000, 1000000),
    ]


def test_events_holt_declining_series_negative_trend(spark):
    """10 events on day 1, none for two days, 1 on day 4: the trend
    state goes negative and every fold value is pinned by hand —
    the floored-division path a truncating DIV would get wrong."""
    from mapreduceindex_spark.operators.events import events_holt

    events = _mk_events(
        spark,
        [(1, h, u, "view", 1.0) for h in range(2) for u in range(5)]
        + [(4, 0, 1, "view", 1.0)],
    )
    d0 = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).days
    rows = [tuple(r) for r in events_holt(events).collect()]
    assert rows == [
        (d0, 10, 10_000_000, 0),
        (d0 + 1, 0, 7_000_000, -300_000),
        (d0 + 2, 0, 4_690_000, -501_000),
        (d0 + 3, 1, 3_232_300, -596_670),
    ]


def test_rfm_migration_hand_transitions(spark):
    """Five customers spend in descending order in half A and reversed
    in half B; customer 1 churns, customer 6 is acquired — every
    transition cell is pinned, including the 0-bucket churn rows."""
    from mapreduceindex_spark.operators.relational import rfm_migration

    rows = []
    # half A (Jan 1; range Jan 1..10 -> midpoint day 6)
    for cust, price in [(1, 500.0), (2, 400.0), (3, 300.0), (4, 200.0), (5, 100.0)]:
        rows.append((1, price, cust))
    # half B (Jan 10), reversed + a new customer
    for cust, price in [(2, 100.0), (3, 200.0), (4, 300.0), (5, 400.0), (6, 500.0)]:
        rows.append((10, price, cust))
    orders = spark.createDataFrame(
        [
            (i, c, "O", p, dt.date(2024, 1, d), "1-URGENT", "c", 0, "")
            for i, (d, p, c) in enumerate(rows)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority int, o_comment string",
    )
    got = [tuple(r) for r in rfm_migration(orders).collect()]
    assert got == [
        (0, 1, 1),
        (1, 0, 1),
        (2, 5, 1),
        (3, 4, 1),
        (4, 3, 1),
        (5, 2, 1),
    ]


def test_ann_recall_curve_nested_and_consistent_with_ann_recall(spark):
    """Prefix nesting: n_hits is non-decreasing in k (both rankings are
    nested by construction). Cross-operator consistency: the curve's
    k=5 point equals the sum of ann_recall's per-query hits at k=5."""
    from mapreduceindex_spark.operators.similarity import (
        ann_recall,
        ann_recall_curve,
    )
    from mapreduceindex_spark.session import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    curve = {r["k"]: r["n_hits"] for r in ann_recall_curve(emb).collect()}
    ks = sorted(curve)
    assert all(curve[a] <= curve[b] for a, b in zip(ks, ks[1:]))
    per_q = sum(r["n_hits"] for r in ann_recall(emb).collect())
    assert curve[5] == per_q


def test_multiprobe_recall_dominates_single_bucket(spark):
    """The Hamming-1 probe set strictly contains the single bucket, and
    top-k under one total order is monotone in the candidate set — so
    multi-probe recall vs the exact ranking must be >= single-probe,
    per query. Also: the single-bucket pairs are a subset of the
    multi-probe pairs."""
    from mapreduceindex_spark.operators.similarity import (
        ann_lsh_topk,
        ann_multiprobe_topk,
        cosine_topk,
    )
    from mapreduceindex_spark.session import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_topk(emb).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_multiprobe_topk(emb).collect()
    }
    from collections import Counter

    def hits_per_q(s):
        return Counter(q for q, n in s & exact)

    hs, hm = hits_per_q(single), hits_per_q(multi)
    assert all(hm[q] >= hs[q] for q in hs)
    assert sum(hm.values()) >= sum(hs.values())


def test_vocab_pruning_report_hand_sweep(spark):
    """3 docs: 'a' in all 3 (df 3 = 100% > 80% ceiling -> always
    pruned), 'b' in 2 (3 occs), 'c' in 1 (1 occ). Unpruned totals:
    3 words, 9 occs. min_df=1 keeps {b,c} (2 words, 4 occs ->
    444444 ppm); min_df=2 keeps {b} only."""
    from mapreduceindex_spark.operators.text_analysis import (
        vocab_pruning_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c", "en", "s", 5),
            (2, "a b b", "en", "s", 5),
            (3, "a a a", "en", "s", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = [
        tuple(r) for r in vocab_pruning_report(docs, min_dfs=(1, 2)).collect()
    ]
    assert rows == [
        (1, 2, 4, 666666, 444444),
        (2, 1, 3, 333333, 333333),
    ]


def test_vocab_growth_curve_first_occurrence_buckets(spark):
    """Words bucket by FIRST occurrence: a,b,c first appear in docs
    0-1 (bucket 0), d in doc 2 (bucket 1); cumulative 3 then 4."""
    from mapreduceindex_spark.operators.text_analysis import (
        vocab_growth_curve,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b", "en", "s", 3),
            (1, "a c", "en", "s", 3),
            (2, "d", "en", "s", 1),
            (3, "a", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = [tuple(r) for r in vocab_growth_curve(docs, bucket_docs=2).collect()]
    assert rows == [(0, 1, 3, 3), (1, 3, 1, 4)]


def test_cdc_chunk_rows_hof_equals_window_chunker(spark):
    """The row-local lambda-bound chunker (streaming form) must be
    bit-equal to cdc_chunk_dedup's window-based chunking — same cuts,
    same chunk ids, same content hashes — on the fixture corpus."""
    from pyspark.sql.window import Window

    from mapreduceindex_spark.functions.exact import floor_mod_sql
    from mapreduceindex_spark.functions.text import stable_hash64, words
    from mapreduceindex_spark.operators.dedup import cdc_chunk_rows
    from mapreduceindex_spark.session import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    hof = sorted(tuple(r) for r in cdc_chunk_rows(docs).collect())

    base = docs.select("doc_id", words(F.col("text")).alias("ws"))
    toks = base.select("doc_id", F.posexplode("ws").alias("pos", "w"))
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    win_ng = F.concat_ws(
        " ", F.lag("w", 2).over(by_pos), F.lag("w", 1).over(by_pos), F.col("w")
    )
    cut = (
        F.when(
            (F.col("pos") >= 2) & (F.expr(floor_mod_sql("_wh", 8)) == 0), 1
        ).otherwise(0)
    )
    flagged = toks.select(
        "doc_id", "pos", "w", stable_hash64(win_ng).alias("_wh")
    ).select("doc_id", "pos", "w", cut.alias("_cut"))
    chunked = flagged.select(
        "doc_id", "pos", "w", F.lag("_cut", 1, 0).over(by_pos).alias("_pc")
    ).select(
        "doc_id",
        "pos",
        "w",
        F.sum("_pc")
        .over(by_pos.rowsBetween(Window.unboundedPreceding, 0))
        .alias("chunk_id"),
    )
    win = sorted(
        tuple(r)
        for r in chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            stable_hash64(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda s: s["w"],
                    ),
                    " ",
                )
            ).alias("ch"),
        )
        .collect()
    )
    assert hof == win and len(hof) > 100


# ---------------------------------------------------------------------------
# scd2_priority_history
# ---------------------------------------------------------------------------


def test_scd2_intervals_hand_fixture(spark):
    """Runs collapse under the (day, orderkey) total order; valid_to is
    the next run's valid_from; the live run is open (NULL); same-day
    orders tie-break on orderkey."""
    import datetime as _dt

    from mapreduceindex_spark.operators.relational import (
        scd2_priority_history,
    )

    def ts(day):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(days=day)

    rows = [
        # cust 1: A(d1), A(d2), B(d3), A(d5)
        (101, 1, "1-URGENT", ts(1)),
        (102, 1, "1-URGENT", ts(2)),
        (103, 1, "2-HIGH", ts(3)),
        (104, 1, "1-URGENT", ts(5)),
        # cust 2: same-day flip — orderkey order decides the runs
        (201, 2, "2-HIGH", ts(4)),
        (202, 2, "1-URGENT", ts(4)),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderpriority string, "
        "o_orderdate timestamp",
    )
    out = [
        (r["o_custkey"], r["priority"], r["valid_from_day"],
         r["valid_to_day"], r["n_orders"])
        for r in scd2_priority_history(df).collect()
    ]
    assert out == [
        (1, "1-URGENT", 1, 3, 2),
        (1, "2-HIGH", 3, 5, 1),
        (1, "1-URGENT", 5, None, 1),
        (2, "2-HIGH", 4, 4, 1),
        (2, "1-URGENT", 4, None, 1),
    ]


def test_scd2_chain_properties(spark):
    """On the fixture: per customer the intervals chain (valid_to ==
    next valid_from), exactly one open interval per customer, adjacent
    runs always change priority, and n_orders sums to the customer's
    order count."""
    from mapreduceindex_spark.operators.relational import (
        scd2_priority_history,
    )
    from mapreduceindex_spark.session import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    rows = scd2_priority_history(orders).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    totals = {
        r["o_custkey"]: r["n"]
        for r in orders.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert set(by_cust) == set(totals)
    for ck, ivs in by_cust.items():
        assert sum(r["n_orders"] for r in ivs) == totals[ck]
        assert sum(1 for r in ivs if r["valid_to_day"] is None) == 1
        assert ivs[-1]["valid_to_day"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to_day"] == b["valid_from_day"]
            assert a["priority"] != b["priority"]


# ---------------------------------------------------------------------------
# copurchase_bfs_depth
# ---------------------------------------------------------------------------


def _li_from_orders(spark, orders):
    rows = [
        (ok, pk) for ok, parts in orders.items() for pk in parts
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    parts = sorted({pk for ps in orders.values() for pk in ps})
    part = spark.createDataFrame([(p,) for p in parts], "p_partkey long")
    return li, part


def test_bfs_depths_and_ball_bound(spark):
    """Path + star fixture: the hub seeds (highest degree), distances
    are min-hop, and nodes beyond max_depth are absent."""
    from mapreduceindex_spark.operators.graph import copurchase_bfs_depth

    li, part = _li_from_orders(
        spark,
        {
            1: [1, 2], 2: [2, 3], 3: [3, 4], 4: [4, 5], 5: [5, 6],
            6: [2, 7], 7: [2, 8],
        },
    )
    out = {
        r["p_partkey"]: r["depth"]
        for r in copurchase_bfs_depth(
            li, part, min_support=1, max_depth=2
        ).collect()
    }
    assert out == {2: 0, 1: 1, 3: 1, 7: 1, 8: 1, 4: 2}


def test_bfs_seed_tiebreak_and_empty_graph(spark):
    """Equal degrees seed at the smaller partkey; a support-filtered
    empty edge list yields an empty result (no crash)."""
    from mapreduceindex_spark.operators.graph import copurchase_bfs_depth

    li, part = _li_from_orders(spark, {1: [10, 20]})
    out = {
        r["p_partkey"]: r["depth"]
        for r in copurchase_bfs_depth(
            li, part, min_support=1, max_depth=3
        ).collect()
    }
    assert out == {10: 0, 20: 1}
    # min_support=2 filters the single co-purchase away entirely
    assert (
        copurchase_bfs_depth(li, part, min_support=2, max_depth=3).count()
        == 0
    )


# ---------------------------------------------------------------------------
# knn_classifier
# ---------------------------------------------------------------------------


def test_knn_matches_independent_numpy_reimpl(spark):
    """Full independent replay: numpy brute-force k-NN with the same
    md5 split, micro quantization, (dist, tid) neighbor order and
    (votes desc, label asc) vote rule must produce the identical
    confusion matrix on the sf0.001 fixture."""
    import hashlib

    import pandas as pd
    import pyarrow.parquet as pq

    from mapreduceindex_spark.operators.clustering import knn_classifier
    from mapreduceindex_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = [
        (r["label"], r["predicted"], r["n_vecs"], r["sum_votes"])
        for r in knn_classifier(emb).collect()
    ]

    pdf = pq.read_table("/root/testdata/sf0.001/embeddings.parquet").to_pandas()
    rows = []
    for _, r in pdf.iterrows():
        b = int(hashlib.md5(str(int(r["vec_id"])).encode()).hexdigest()[:15], 16) % 100
        qv = [int(np.floor(float(x) * 1_000_000 + 0.5)) for x in r["embedding"]]
        rows.append((int(r["vec_id"]), int(r["label"]), b, qv))
    train = [(t, l, v) for t, l, b, v in rows if b < 80]
    test = [(t, l, v) for t, l, b, v in rows if b >= 80]
    cells: dict[tuple, list] = {}
    for sid, slabel, sv in test:
        ds = sorted(
            (sum((a - b) ** 2 for a, b in zip(sv, tv)), tid, tlabel)
            for tid, tlabel, tv in train
        )[:5]
        votes: dict[int, int] = {}
        for _, _, tl in ds:
            votes[tl] = votes.get(tl, 0) + 1
        win = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        cell = cells.setdefault((slabel, win[0]), [0, 0])
        cell[0] += 1
        cell[1] += win[1]
    want = sorted(
        (l, p, n, sv) for (l, p), (n, sv) in cells.items()
    )
    assert sorted(got) == want
    assert sum(n for _, _, n, _ in got) == len(test)


# ---------------------------------------------------------------------------
# matryoshka_recall
# ---------------------------------------------------------------------------


def test_matryoshka_full_dim_row_is_exact_and_bounded(spark):
    """recall@k at d = full dimension must be exactly 1e6 ppm (same
    ranking, same tie-break as the exact side); every row is bounded
    by [0, 1e6] and n_hits by n_queries*k."""
    from mapreduceindex_spark.operators.similarity import matryoshka_recall
    from mapreduceindex_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = {r["dims"]: r for r in matryoshka_recall(emb).collect()}
    assert set(rows) == {8, 16, 32, 64}
    assert rows[64]["recall_ppm"] == 1_000_000
    assert rows[64]["n_hits"] == 50
    for r in rows.values():
        assert 0 <= r["n_hits"] <= 50
        assert 0 <= r["recall_ppm"] <= 1_000_000


def test_streaming_hll_micro_batching_independent(spark, tmp_path, monkeypatch):
    """The HLL register state is max-folded, so a forced
    one-file-per-trigger three-batch run must produce the identical
    readout as the batch operator on the concatenated events (minus
    the exact calibration column)."""
    from mapreduceindex_spark.operators.sketches import hll_distinct_users
    from mapreduceindex_spark.session import load_table
    from mapreduceindex_spark.streaming import pipelines as P

    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)
    src = tmp_path / "src"
    src.mkdir()
    # users deliberately repeat across files: idempotent max must fold
    rows = [
        [(1, t0, 5, "view"), (2, t0 + sec, 9, "view")],
        [(3, t0 + 2 * sec, 5, "click"), (4, t0 + 3 * sec, 14, "view")],
        [(5, t0 + 4 * sec, 9, "view"), (6, t0 + 5 * sec, 23, "view")],
    ]
    for i, rws in enumerate(rows):
        _write_events_file(src / f"{chr(97 + i)}.parquet", rws)
    monkeypatch.setattr(
        P,
        "_stream_events",
        lambda spark_, _dir: _one_file_per_trigger(spark_, str(src)),
    )
    got = sorted(
        (r["event_type"], r["m"], r["n_zero_regs"], r["z_scaled"],
         r["est_users"])
        for r in P.streaming_hll_distinct(spark, "unused").collect()
    )
    batch = spark.read.parquet(str(src)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = sorted(
        (r["event_type"], r["m"], r["n_zero_regs"], r["z_scaled"],
         r["est_users"])
        for r in hll_distinct_users(batch).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# lsh_band_sweep
# ---------------------------------------------------------------------------


def test_band_sweep_monotone_ladder(spark):
    """On the nested power-of-two ladder, a pair sharing a coarse band
    shares both of its halves at the next config, so recall AND probe
    counts are monotone non-decreasing in bands; recall at any config
    is bounded by n_truth; the full-signature config (b=1) has minimal
    probe cost."""
    from mapreduceindex_spark.operators.dedup import lsh_band_sweep
    from mapreduceindex_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = lsh_band_sweep(docs).collect()
    assert [r["bands"] for r in rows] == [1, 2, 4, 8, 16]
    for a, b in zip(rows, rows[1:]):
        assert a["n_recalled"] <= b["n_recalled"]
        assert a["n_probe_pairs"] <= b["n_probe_pairs"]
    for r in rows:
        assert r["n_recalled"] <= r["n_truth"]
        assert r["bands"] * r["rows_per_band"] == 16


def test_band_sweep_clone_weighted_probes_match_naive(spark):
    """On a corpus WITH byte-identical clones, the group-size-weighted
    probe count and the map-routed recall must equal a naive
    un-collapsed replay (per-doc signatures, explicit bucket sizes)."""
    from mapreduceindex_spark.operators.dedup import (
        _shingle_hashes,
        _signatures_from_hashes,
        lsh_band_sweep,
        lsh_recall,
        ngram_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"
    docs = spark.createDataFrame(
        [
            (1, base, "s"),
            (2, base, "s"),      # clone of 1
            (3, base, "s"),      # clone of 1
            (4, near, "s"),      # near-dup of the clone group
            (5, "completely different words here entirely", "s"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r["bands"]: r for r in lsh_band_sweep(docs).collect()}

    # naive replay: per-doc signatures, no collapse anywhere
    sig = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(16)]
        for r in _signatures_from_hashes(
            _shingle_hashes(docs, 3), 16
        ).collect()
    }
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs).collect()
    }
    for b, r in got.items():
        rows_pb = 16 // b
        # probe pairs: per band, bucket sizes over ALL docs
        n_probe = 0
        for bi in range(b):
            buckets: dict[tuple, int] = {}
            for d, s in sig.items():
                key = tuple(s[bi * rows_pb: (bi + 1) * rows_pb])
                buckets[(bi,) + key] = buckets.get((bi,) + key, 0) + 1
            n_probe += sum(c * (c - 1) // 2 for c in buckets.values())
        assert r["n_probe_pairs"] == n_probe, (b, r["n_probe_pairs"], n_probe)
        # recall: truth pairs sharing any band
        n_rec = 0
        for a_, b_ in truth:
            sa, sb = sig[a_], sig[b_]
            if any(
                sa[bi * rows_pb: (bi + 1) * rows_pb]
                == sb[bi * rows_pb: (bi + 1) * rows_pb]
                for bi in range(b)
            ):
                n_rec += 1
        assert r["n_truth"] == len(truth)
        assert r["n_recalled"] == n_rec, (b, r["n_recalled"], n_rec)
    # the clone triangle (3 pairs at jaccard 1) must be in truth and
    # recalled at every config — identical signatures share every band
    assert {(1, 2), (1, 3), (2, 3)} <= truth
    assert all(r["n_recalled"] >= 3 for r in got.values())
    # the sweep's band keys are the pair search's: its bands=4 row
    # prices exactly the configuration lsh_recall scores
    (rec,) = lsh_recall(docs).collect()
    assert got[4]["n_truth"] == rec["n_true"]
    assert got[4]["n_recalled"] == rec["n_found"]


# ---------------------------------------------------------------------------
# copurchase_kcore
# ---------------------------------------------------------------------------


def test_kcore_peels_chain_over_multiple_rounds(spark):
    """K4 with a pendant chain (4-5-6-7): at k=2 the chain collapses
    one node per round from the free end — needing three peel rounds —
    while the clique survives at degree 3. At k=4 everything dies."""
    from mapreduceindex_spark.operators.graph import copurchase_kcore

    clique = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    chain = [(4, 5), (5, 6), (6, 7)]
    li, part = _li_from_orders(
        spark,
        {i + 1: list(e) for i, e in enumerate(clique + chain)},
    )
    out = {
        r["p_partkey"]: r["degree"]
        for r in copurchase_kcore(
            li, part, min_support=1, k=2, rounds=4
        ).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    assert (
        copurchase_kcore(li, part, min_support=1, k=4, rounds=4).count() == 0
    )


def test_readability_hand_counts(spark):
    """Vowel-group and sentence-run counting pinned on a hand doc:
    'Hello!! How are you? Fine.' → 3 sentence runs; vowel groups of
    the lowercased text counted by maximal [aeiou]+ runs."""
    from mapreduceindex_spark.operators.text_analysis import (
        readability_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello!! How are you? Fine.", "s"),
            (2, "no punctuation here", "s"),
        ],
        "doc_id long, text string, source string",
    )
    r = readability_scores(docs).collect()[0]
    # sentences: '!!', '?', '.' → 3
    assert r["n_sentences"] == 3
    # words: hello how are you fine no punctuation here → 8
    assert r["n_words"] == 8
    # vowel runs: h(e)ll(o) h(o)w (a)r(e) y(ou) f(i)n(e) = 8 +
    # n(o) p(u)nct(ua)t(io)n h(e)r(e) = 6 → 14
    assert r["n_vowel_groups"] == 14
    assert r["words_per_sentence_ppm"] == 8 * 1_000_000 // 3
    assert r["syllables_per_word_ppm"] == 14 * 1_000_000 // 8


# ---------------------------------------------------------------------------
# ivf_nprobe_sweep
# ---------------------------------------------------------------------------


def test_ivf_sweep_monotone_and_consistent_with_ivf_topk(spark):
    """More probes never reduce candidates or recall; recall at the
    shipped n_probe=4 equals ann_recall's composition of ivf_topk with
    the exact ranking (one frame, two readouts); n_candidates is
    positive once p >= 1 (every query scores its own cell's other
    members)."""
    from mapreduceindex_spark.operators.similarity import (
        cosine_topk,
        ivf_nprobe_sweep,
        ivf_topk,
    )
    from mapreduceindex_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = ivf_nprobe_sweep(emb).collect()
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    for a, b in zip(rows, rows[1:]):
        assert a["n_candidates"] <= b["n_candidates"]
        assert a["n_hits"] <= b["n_hits"]
    assert rows[0]["n_candidates"] > 0
    # cross-check the p=4 row against composing the public operators
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, 10, 5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, 10, 5, 16, 4).collect()
    }
    want_hits = len(exact & approx)
    got = {r["n_probe"]: r for r in rows}
    assert got[4]["n_hits"] == want_hits
    assert got[4]["recall_ppm"] == want_hits * 1_000_000 // 50


# ---------------------------------------------------------------------------
# customers_with_full_set (relational division)
# ---------------------------------------------------------------------------


def test_division_hand_fixture(spark):
    """Divisor = top-3 brands by distinct orders (ties to the smaller
    brand); only the customer covering all three qualifies, and the
    order count only counts target-brand orders."""
    from mapreduceindex_spark.operators.relational import (
        customers_with_full_set,
    )

    # parts 100/200/300/400 carry brands A/B/C/D
    part = spark.createDataFrame(
        [(100, "A"), (200, "B"), (300, "C"), (400, "D")],
        "p_partkey long, p_brand string",
    )
    li = spark.createDataFrame(
        # brand popularity by distinct orders: A=4, B=3, C=2, D=2
        # -> target = {A, B, C} (C beats D on the brand tie)
        [
            (1, 100), (1, 200), (1, 300),
            (2, 100), (2, 200),
            (3, 100), (3, 300),
            (4, 100), (4, 400),
            (5, 200), (5, 400),
            (6, 100),
        ],
        "l_orderkey long, l_partkey long",
    )
    orders = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1), (5, 2), (6, 2)],
        "o_orderkey long, o_custkey long",
    )
    # cust 1 bought brands A,B,C,D -> covers; cust 2 bought B,D,A ->
    # misses C. cust 1's target-brand orders: 1,2,3,4 (order 4 has A)
    out = [
        (r["o_custkey"], r["n_target_brands"], r["n_orders_on_targets"])
        for r in customers_with_full_set(li, orders, part).collect()
    ]
    assert out == [(1, 3, 4)]


# ---------------------------------------------------------------------------
# streaming_value_histogram
# ---------------------------------------------------------------------------


def test_streaming_histogram_batching_independent_and_rank_exact(
    spark, tmp_path, monkeypatch
):
    """Forced three-batch run: the picked quantile buckets equal a
    batch recompute over the concatenated events (counts are
    commutative), and the picked bucket is exactly the first whose
    running count reaches ceil(p*n)."""
    import math

    from mapreduceindex_spark.streaming import pipelines as P

    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)
    src = tmp_path / "src"
    src.mkdir()
    vals = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0, 256.0]
    rows = [
        [(i, t0 + i * sec, i, "view") for i in range(3)],
        [(i, t0 + i * sec, i, "view") for i in range(3, 6)],
        [(i, t0 + i * sec, i, "view") for i in range(6, 9)],
    ]
    # _write_events_file pins value=1.0; write custom values instead
    for fi, rws in enumerate(rows):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rws], pa.int64()),
                "ts": pa.array([r[1] for r in rws], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rws], pa.int64()),
                "event_type": pa.array([r[3] for r in rws], pa.string()),
                "value": pa.array(
                    [vals[r[0]] for r in rws], pa.float64()
                ),
                "props": pa.array(["{}"] * len(rws), pa.string()),
            }
        )
        pq.write_table(table, str(src / f"{chr(97 + fi)}.parquet"))
    monkeypatch.setattr(
        P,
        "_stream_events",
        lambda spark_, _dir: _one_file_per_trigger(spark_, str(src)),
    )
    got = {
        (r["event_type"], r["p_ppm"]): (
            r["bucket"], r["bucket_lo_cents"], r["n_le"]
        )
        for r in P.streaming_value_histogram(spark, "unused").collect()
    }
    # hand replay: buckets = floor(v*100+0.5) DIV 500
    buckets = sorted(int(math.floor(v * 100 + 0.5)) // 500 for v in vals)
    n = len(buckets)
    for p_ppm in (500_000, 900_000, 990_000):
        rank = (p_ppm * n + 999_999) // 1_000_000
        # first bucket whose running count reaches the rank
        seen: dict[int, int] = {}
        for b in buckets:
            seen[b] = seen.get(b, 0) + 1
        cum = 0
        for b in sorted(seen):
            cum += seen[b]
            if cum >= rank:
                assert got[("view", p_ppm)] == (b, b * 500, cum)
                break


# ---------------------------------------------------------------------------
# media_luma_histogram
# ---------------------------------------------------------------------------


def test_luma_histogram_conservation_and_numpy_replay(spark):
    """Pixel counts partition the total pixel area (sum over bins =
    sum of w*h), every image is modal in exactly one bin, and a direct
    numpy replay of the texture (no codec) matches — so the codec
    round trip is pixel-faithful end to end."""
    from mapreduceindex_spark.operators.multimodal import (
        media_luma_histogram,
    )

    ids = [0, 1, 2, 3, 5, 8, 13, 21, 40, 41, 96, 97]
    docs = spark.createDataFrame([(i, "t", "s") for i in ids],
                                 "doc_id long, text string, source string")
    rows = {r["bin"]: r for r in media_luma_histogram(docs).collect()}
    assert set(rows) == set(range(8))
    want = {b: [0, 0] for b in range(8)}
    total_area = 0
    for i in ids:
        w, h, k = 8 + i % 41, 8 + i % 37, i % 97
        counts = [0] * 8
        for y in range(h):
            for x in range(w):
                counts[((k + 3 * x + 5 * y) % 251) // 32] += 1
        total_area += w * h
        for b in range(8):
            want[b][0] += counts[b]
        modal = max(range(8), key=lambda b: (counts[b], -b))
        want[modal][1] += 1
    assert sum(r["n_pixels"] for r in rows.values()) == total_area
    assert sum(r["n_images_modal"] for r in rows.values()) == len(ids)
    for b in range(8):
        assert rows[b]["n_pixels"] == want[b][0], b
        assert rows[b]["n_images_modal"] == want[b][1], b
        assert rows[b]["bin_lo"] == b * 32


# ---------------------------------------------------------------------------
# label_compactness
# ---------------------------------------------------------------------------


def test_label_compactness_hand_fixture(spark):
    """Two tight clusters far apart + one spread cluster: mean/max
    distances and nearest-other assignment pinned against hand
    integers (micro scale: components are exact micros)."""
    from mapreduceindex_spark.operators.clustering import label_compactness

    rows = [
        # label 0: points at 0.0 and 0.000002 on dim 0 -> centroid 1 micro
        (0, 0, [0.0, 0.0]),
        (1, 0, [0.000002, 0.0]),
        # label 1: both exactly at 1.0 -> centroid 1e6, zero spread
        (2, 1, [1.0, 0.0]),
        (3, 1, [1.0, 0.0]),
        # label 2: single point at 10.0
        (4, 2, [10.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {r["label"]: r for r in label_compactness(df).collect()}
    # label 0: centroid micro = (0+2) DIV 2 = 1; dists 1 and 1
    assert out[0]["n_vecs"] == 2
    assert out[0]["mean_dist2_u"] == 1
    assert out[0]["max_dist2_u"] == 1
    # label 1: zero spread
    assert out[1]["mean_dist2_u"] == 0 and out[1]["max_dist2_u"] == 0
    # nearest-other: 0<->1 gap = (1e6-1)^2; label 2 is 9e6+ away
    assert out[0]["nearest_other_label"] == 1
    assert out[1]["nearest_other_label"] == 0
    assert out[2]["nearest_other_label"] == 1
    assert out[0]["centroid_gap2_u"] == (1_000_000 - 1) ** 2
    assert out[1]["centroid_gap2_u"] == (1_000_000 - 1) ** 2
    assert out[2]["centroid_gap2_u"] == (10_000_000 - 1_000_000) ** 2


# ---------------------------------------------------------------------------
# jl_distortion_report
# ---------------------------------------------------------------------------


def test_jl_projection_matches_numpy_and_concentrates(spark):
    """The ±1 projection replayed in numpy (same md5 signs) matches the
    pair distortions exactly, and on the fixture the JL concentration
    holds: most sampled pairs land within ±30% of 1e6 ppm."""
    import hashlib

    import pyarrow.parquet as pq

    from mapreduceindex_spark.operators.similarity import (
        jl_distortion_report,
    )
    from mapreduceindex_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    row = jl_distortion_report(emb).collect()[0]

    pdf = pq.read_table(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).to_pandas()
    vecs = {
        int(r["vec_id"]): [
            int(np.floor(float(x) * 1_000_000 + 0.5)) for x in r["embedding"]
        ]
        for _, r in pdf.iterrows()
    }
    d = len(next(iter(vecs.values())))
    signs = [
        [
            1
            - 2
            * (
                int(
                    hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:15], 16
                )
                % 2
            )
            for i in range(d)
        ]
        for j in range(8)
    ]
    proj = {
        v: [sum(s[i] * x[i] for i in range(d)) for s in signs]
        for v, x in vecs.items()
    }
    ppms = []
    n_zero = 0
    for q in [v for v in vecs if v < 10]:
        for c in vecs:
            if c <= q:
                continue
            d2 = sum((a - b) ** 2 for a, b in zip(vecs[q], vecs[c]))
            pd2 = sum((a - b) ** 2 for a, b in zip(proj[q], proj[c]))
            if d2 == 0:
                n_zero += 1
                continue
            s = 1 + (8 * d2) // 10_000_000_000
            ppms.append(((pd2 // s) * 1_000_000) // ((8 * d2) // s))
    assert row["n_pairs"] == len(ppms) + n_zero
    assert row["n_zero_dist"] == n_zero
    assert row["min_ppm"] == min(ppms)
    assert row["max_ppm"] == max(ppms)
    assert row["mean_ppm"] == sum(ppms) // len(ppms)
    within = sum(1 for p in ppms if 700_000 <= p <= 1_300_000)
    assert row["n_within_30pct"] == within
    # JL concentration: k=8 is coarse (relative sigma ~ sqrt(2/8) =
    # 50%, so +/-30%% is only ~0.6 sigma; ~45%% expected, measured 47%%)
    assert 0.3 < within / len(ppms) < 0.7
