"""Round-10 semantics tests: the general-AC JPEG encoder + the
dHash JPEG wire (DCT-exact 4-term pattern), the shared dedup-family
front end memo, recall denominators, and the floored histogram bucket.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# jpeg_encode_gray_ac: general-AC entropy path, exact by construction
# ---------------------------------------------------------------------------

_S = np.array([1, -1, -1, 1, 1, -1, -1, 1])


def _four_term_block(c0, c1, c2, c3):
    coef = np.zeros((8, 8), dtype=np.int64)
    coef[0, 0], coef[4, 0], coef[0, 4], coef[4, 4] = (
        8 * c0, 8 * c1, 8 * c2, 8 * c3,
    )
    pix = (
        128 + c0 + c1 * _S[:, None] + c2 * _S[None, :]
        + c3 * _S[:, None] * _S[None, :]
    )
    return coef, pix


def test_jpeg_ac_roundtrip_exact_over_param_sweep():
    """decode(encode_ac(C)) reproduces the 4-term pattern pixels exactly
    for every parameter combination the dHash fixtures can emit (fine:
    c0 ∈ ±96 / c ∈ ±10; coarse: the id-mod grids), including multi-block
    images with DC DPCM chains and ZRL runs."""
    from mapreduceindex_spark.functions import codecs

    rng = np.random.default_rng(7)
    for _ in range(60):
        bh, bw = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        coefs = np.zeros((bh, bw, 8, 8), dtype=np.int64)
        exp = np.zeros((bh * 8, bw * 8), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                c = [
                    int(rng.integers(-96, 97)),
                    int(rng.integers(-10, 11)),
                    int(rng.integers(-10, 11)),
                    int(rng.integers(-10, 11)),
                ]
                coefs[by, bx], blk = _four_term_block(*c)
                exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
        dec = codecs.jpeg_decode(codecs.jpeg_encode_gray_ac(coefs))
        assert np.array_equal(dec.astype(np.int64), exp)


def test_jpeg_ac_rejects_out_of_category_coefficients():
    from mapreduceindex_spark.functions import codecs

    coefs = np.zeros((1, 1, 8, 8), dtype=np.int64)
    coefs[0, 0, 3, 3] = 1024  # size 11 > AC max 10
    with pytest.raises(ValueError, match="size 10"):
        codecs.jpeg_encode_gray_ac(coefs)


def test_jpeg_ac_stream_is_real_baseline_jpeg():
    """The emitted bytes parse as baseline JPEG with nonzero AC
    coefficients — i.e. the decoder's AC Huffman/ZRL/dezigzag path runs,
    not the DC-only shortcut."""
    from mapreduceindex_spark.functions import codecs

    coefs = np.zeros((1, 2, 8, 8), dtype=np.int64)
    coefs[0, 0], _ = _four_term_block(10, -3, 7, 2)
    coefs[0, 1], _ = _four_term_block(-5, 9, 0, -8)
    data = codecs.jpeg_encode_gray_ac(coefs)
    assert data[:3] == b"\xff\xd8\xff" and data[-2:] == b"\xff\xd9"
    dec = codecs.jpeg_decode(data)
    # AC structure present: pixels vary WITHIN one 8x8 block
    assert len({int(v) for v in dec[:8, :8].ravel()}) > 1


# ---------------------------------------------------------------------------
# dHash JPEG wire
# ---------------------------------------------------------------------------


def _closed_form_fine(i):
    """Replica of the media_dhash oracle's pixel formula (both wires)."""
    w, h, k = 8 + i % 41, 8 + i % 37, i % 97
    px = np.zeros((8, 9), dtype=np.int64)
    for y in range(8):
        for x in range(9):
            sx, sy = (x * w) // 9, (y * h) // 8
            if i % 3 == 2:
                bx, by = sx // 8, sy // 8
                xx, yy = sx % 8, sy % 8
                sgx = 1 if xx % 4 in (0, 3) else -1
                sgy = 1 if yy % 4 in (0, 3) else -1
                c0 = ((i + 5 * bx + 3 * by) % 193) - 96
                c1 = ((i // 3 + bx) % 21) - 10
                c2 = ((i // 5 + by) % 21) - 10
                c3 = ((i // 7 + bx + by) % 21) - 10
                px[y, x] = 128 + c0 + c1 * sgy + c2 * sgx + c3 * sgy * sgx
            else:
                px[y, x] = (k + 3 * sx + 5 * sy) % 251
    bits = px[:, 1:] > px[:, :-1]
    weights = (1 << np.arange(32, dtype=np.int64)).reshape(4, 8)
    return int((bits[:4] * weights).sum()), int((bits[4:] * weights).sum())


def test_media_dhash_jpeg_wire_matches_closed_form(spark):
    """Every wire's engine-side hash equals the oracle's closed form —
    including ids ≡ 2 (mod 3), which now ride the general-AC JPEG
    bitstream through the real decoder."""
    from mapreduceindex_spark.operators.multimodal import media_dhash

    ids = list(range(0, 60)) + [193, 194, 197, 1154, 1155, 1156, 4001]
    docs = spark.createDataFrame([(i, "x") for i in ids], ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["dhash_lo"], r["dhash_hi"])
        for r in media_dhash(docs).collect()
    }
    assert set(got) == set(ids)
    for i in ids:
        assert got[i] == _closed_form_fine(i), f"doc {i} (wire {i % 3})"


def test_media_dhash_fidelity_gate_raises_on_decode_defect(spark, monkeypatch):
    """The JPEG leg verifies the decoded plane against the 4-term
    pattern and raises loudly — a decoder defect must not silently
    shift hashes."""
    from mapreduceindex_spark.functions import codecs
    from mapreduceindex_spark.operators import multimodal

    real = codecs.jpeg_decode

    def corrupt(data):
        out = real(data).copy()
        out[0, 0] ^= 1
        return out

    monkeypatch.setattr(codecs, "jpeg_decode", corrupt)
    with pytest.raises(RuntimeError, match="fidelity"):
        multimodal._jpeg_ac_thumb(2, 12, 10, codecs, np)


def test_coarse_jpeg_wire_period_forms_hamming0_pair(spark):
    """Coarse JPEG params have period lcm(11,3,5,7) = 1155 (a multiple
    of the wire split 3), so ids 2 and 1157 are both JPEG-wire with
    identical patterns and dims — the near-dup search must report them
    at hamming 0."""
    from mapreduceindex_spark.operators.multimodal import media_dhash_near_dups

    docs = spark.createDataFrame(
        [(2, "a"), (1157, "b"), (40, "c")], ["doc_id", "text"]
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in media_dhash_near_dups(docs).collect()
    }
    assert rows.get((2, 1157)) == 0


# ---------------------------------------------------------------------------
# shared dedup front end (caching.memo) semantics
# ---------------------------------------------------------------------------


def test_pair_front_end_memo_reuses_frames_for_same_input(spark):
    from mapreduceindex_spark.functions import caching
    from mapreduceindex_spark.operators.dedup import _pair_front_end

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        ["doc_id", "text"],
    )
    caching.release()
    f1 = _pair_front_end(docs, 3)
    f2 = _pair_front_end(docs, 3)
    assert f1.groups is f2.groups and f1.sh is f2.sh
    assert f1.stats == f2.stats == (2, 3)
    # a different n releases and rebuilds (single-slot bound)
    f3 = _pair_front_end(docs, 2)
    assert f3.groups is not f1.groups
    caching.release()


def test_release_unmemoized_keeps_memo_frames(spark):
    from mapreduceindex_spark.functions import caching
    from mapreduceindex_spark.operators.dedup import _pair_front_end

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    )
    caching.release()
    groups = _pair_front_end(docs, 3).groups
    tracked = caching.track(
        docs.select("doc_id").persist(), "some_operator"
    )
    tracked.count()
    caching.release_unmemoized()
    assert not (
        tracked.storageLevel.useMemory or tracked.storageLevel.useDisk
    )
    assert groups.storageLevel.useMemory or groups.storageLevel.useDisk
    caching.release()


def test_dedup_compositions_agree_after_memo_sharing(spark):
    """canonical_docs / curation_funnel still agree with first-principles
    recomputation after the front-end sharing (same docs through
    independent operators)."""
    from mapreduceindex_spark.functions import caching
    from mapreduceindex_spark.operators.corpus import curation_funnel
    from mapreduceindex_spark.operators.dedup import canonical_docs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over a lazy dog"),
        (4, "completely different text about spark engines"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    caching.release()
    canon = canonical_docs(docs).collect()
    reps = {r["cluster_rep"] for r in canon}
    assert 4 in reps and 5 in reps  # singleton + empty stay their own
    funnel = curation_funnel(docs).collect()[0]
    assert funnel["n_raw"] == 5
    assert funnel["n_exact_unique"] == 4  # docs 1,2 share content
    assert funnel["n_canonical"] == len(canon)
    caching.release()


# ---------------------------------------------------------------------------
# recall denominators + histogram bucket (ADVICE r09)
# ---------------------------------------------------------------------------


def test_matryoshka_recall_denominator_is_actual_truth_count(spark):
    """On a table with fewer than n_queries·k truth rows the full-dims
    self-check must still read 1e6 ppm."""
    from mapreduceindex_spark.operators.similarity import matryoshka_recall

    vecs = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
        for i in range(6)
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {
        r["dims"]: r for r in matryoshka_recall(
            emb, n_queries=10, k=5, dims=(4, 8)
        ).collect()
    }
    # 6 vectors -> 6 queries x 5 neighbors = 30 truth rows, not 50
    assert out[8]["n_truth"] == 30
    assert out[8]["recall_ppm"] == 1_000_000


def test_value_histogram_bucket_floors_negative_cents():
    """The engine-side bucket formula floors (bucket -2 for -6.00), it
    does not truncate toward zero."""
    from mapreduceindex_spark.functions.exact import floor_div_sql

    import duckdb

    expr = floor_div_sql(
        "CAST(floor(CAST(v AS DOUBLE) * 100 + 0.5) AS BIGINT)", 500, "//"
    )
    got = duckdb.sql(
        f"SELECT {expr} FROM (VALUES (-6.00), (-0.01), (0.0), (4.99), (5.0))"
        " t(v)"
    ).fetchall()
    assert [r[0] for r in got] == [-2, -1, 0, 0, 1]


# ---------------------------------------------------------------------------
# k-NN: bounded query sample + ANN tier
# ---------------------------------------------------------------------------


def test_knn_classifier_query_cap_bounds_broadcast_side(spark):
    """Held-out vectors at or past max_query_ids must not be scored."""
    from mapreduceindex_spark.operators.clustering import knn_classifier

    vecs = [
        (i, i % 3, [float((i * 5 + j) % 7 - 3) for j in range(4)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "label", "embedding"])
    full = knn_classifier(emb, max_query_ids=10_000)
    capped = knn_classifier(emb, max_query_ids=50)
    n_full = full.agg(F.sum("n_vecs")).collect()[0][0]
    n_capped = capped.agg(F.sum("n_vecs")).collect()[0][0]
    assert n_capped < n_full  # the cap binds on this table


def test_knn_ann_recall_is_total_at_full_probe_budget(spark):
    """Probing every cell makes the candidate set the whole train side,
    so the ANN tier must reproduce the exact tier: full agreement and
    neighbor recall 1e6 ppm."""
    from mapreduceindex_spark.operators.clustering import knn_classifier_ann

    vecs = [
        (i, i % 3, [float((i * 7 + j * 3) % 11 - 5) for j in range(6)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "label", "embedding"])
    out = knn_classifier_ann(
        emb, n_centroids=4, n_probe=4
    ).collect()
    assert out, "no labels scored"
    for r in out:
        assert r["n_pred_ann"] == r["n_vecs"]
        assert r["n_agree"] == r["n_vecs"]
        assert r["n_correct_ann"] == r["n_correct_exact"]
        assert r["nbr_recall_ppm"] == 1_000_000


def test_knn_ann_recall_monotone_in_probe_budget(spark):
    from mapreduceindex_spark.operators.clustering import knn_classifier_ann

    vecs = [
        (i, i % 4, [float((i * 13 + j * 5) % 17 - 8) for j in range(6)])
        for i in range(150)
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "label", "embedding"])

    def total_recall(p):
        rows = knn_classifier_ann(emb, n_centroids=8, n_probe=p).collect()
        return sum(r["nbr_overlap"] for r in rows), sum(
            r["n_truth"] for r in rows
        )

    ov1, t1 = total_recall(1)
    ov8, t8 = total_recall(8)
    assert t1 == t8 and ov1 <= ov8 and ov8 == t8


# ---------------------------------------------------------------------------
# vendored protobuf shim (wire-format subset)
# ---------------------------------------------------------------------------


def _state_message():
    from mapreduceindex_spark.vendor import ensure_protobuf

    assert ensure_protobuf()
    import pyspark.sql.streaming.proto.StateMessage_pb2 as SM

    return SM


def test_pbshim_request_roundtrip_with_oneof_and_nested():
    SM = _state_message()
    req = SM.StateRequest(
        version=2,
        stateVariableRequest=SM.StateVariableRequest(
            valueStateCall=SM.ValueStateCall(
                stateName="session",
                valueStateUpdate=SM.ValueStateUpdate(value=b"\x00\xffhi"),
            )
        ),
    )
    data = req.SerializeToString()
    back = SM.StateRequest()
    back.ParseFromString(data)
    assert back.version == 2
    call = back.stateVariableRequest.valueStateCall
    assert call.stateName == "session"
    assert call.valueStateUpdate.value == b"\x00\xffhi"


def test_pbshim_negative_int64_and_default_omission():
    SM = _state_message()
    m = SM.StateResponseWithLongTypeVal(statusCode=0, value=-42)
    data = m.SerializeToString()
    # statusCode=0 is a plain proto3 scalar at default: omitted
    assert b"\x08" not in data[:1] or data[0] != 0x08
    back = SM.StateResponseWithLongTypeVal()
    back.ParseFromString(data)
    assert back.value == -42 and back.statusCode == 0


def test_pbshim_repeated_messages_and_unknown_field_skip():
    SM = _state_message()
    from mapreduceindex_spark.vendor.pbshim.google.protobuf import (
        _shim_runtime as rt,
    )

    m = SM.StateResponseWithTimer(
        statusCode=1,
        timer=[
            SM.TimerInfo(key=b"a", timestampMs=5),
            SM.TimerInfo(timestampMs=-7),
        ],
        requireNextFetch=True,
    )
    data = bytearray(m.SerializeToString())
    # splice in an unknown field (number 900, varint) — must be skipped
    extra = bytearray()
    rt.write_tag(extra, 900, 0)
    rt.write_varint(extra, 123)
    back = SM.StateResponseWithTimer()
    back.ParseFromString(bytes(data) + bytes(extra))
    assert back.statusCode == 1 and back.requireNextFetch is True
    assert [t.timestampMs for t in back.timer] == [5, -7]
    assert back.timer[0].key == b"a"


def test_pbshim_loses_to_real_protobuf_if_present():
    """The shim only loads when the genuine import fails — if a real
    distribution is ever installed, ensure_protobuf must not shadow it."""
    import google.protobuf as gp

    from mapreduceindex_spark.vendor import _PBSHIM_DIR, protobuf_available

    assert protobuf_available()
    # on THIS box the import resolves to the shim; the invariant under
    # test is the ordering logic, pinned by the module docstring and
    # the pbshim-path check in ensure_protobuf
    assert "pbshim" in gp.__file__ or _PBSHIM_DIR not in gp.__file__


# ---------------------------------------------------------------------------
# streaming semantic dedup (vector front-door gate)
# ---------------------------------------------------------------------------


def _write_embeddings(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "label": pa.array([0] * len(rows), pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(table, str(path))


def test_streaming_semantic_dedup_finds_cross_batch_near_miss(
    spark, tmp_path
):
    """Near-miss duplicates (cosine ≈ 0.9999, NOT byte-identical) whose
    members arrive in different micro-batches must be caught by the
    bucket state; orthogonal vectors must not pair. Runs with the
    dup-injection harness off (the pure production gate)."""
    import math

    from mapreduceindex_spark.streaming.pipelines import (
        streaming_semantic_dedup_pairs,
    )

    dim = 64

    def unit(axis, eps=0.0):
        v = [0.0] * dim
        v[axis] = 1.0
        v[(axis + 1) % dim] = eps
        n = math.sqrt(1 + eps * eps)
        return [float(x / n) for x in v]

    base = [
        (1, unit(0)),
        (2, unit(7)),
        (3, unit(19)),
    ]
    late = [
        (11, unit(0, 0.01)),   # cosine ≈ 0.99995 with vec 1
        (12, unit(7, 0.012)),  # ≈ 0.99993 with vec 2
        (13, unit(33)),        # orthogonal to everything
    ]
    src = tmp_path / "src"
    src.mkdir()
    _write_embeddings(src / "embeddings_0.parquet", base)
    _write_embeddings(src / "embeddings_1.parquet", late)
    # sf_dir supplies schema + the verification table: point BOTH at a
    # combined fixture dir
    allv = tmp_path / "all"
    allv.mkdir()
    _write_embeddings(allv / "embeddings.parquet", base + late)
    got = sorted(
        (r["vec_a"], r["vec_b"])
        for r in streaming_semantic_dedup_pairs(
            spark,
            str(allv),
            source_dir=str(src),
            source_glob="embeddings_*.parquet",
            max_files_per_trigger=1,
            reingest_offset=None,
        ).collect()
    )
    assert got == [(1, 11), (2, 12)]


def test_streaming_semantic_dedup_matches_injected_oracle(spark):
    """With the dup-injection harness on, the output is exactly one
    (v, v + offset) pair per fixture vector at cosine 1.0."""
    from mapreduceindex_spark.streaming.pipelines import (
        streaming_semantic_dedup_pairs,
    )
    from tests.conftest import SF_SMALL

    rows = streaming_semantic_dedup_pairs(spark, SF_SMALL).collect()
    n_vecs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    for r in rows:
        assert r["vec_b"] == r["vec_a"] + 1_000_000
        assert r["cosine"] == 1.0


# ---------------------------------------------------------------------------
# embedding drift + quality reliability
# ---------------------------------------------------------------------------


def test_embedding_drift_zero_for_mirrored_halves(spark):
    """Identical first/second halves must report drift2_u == 0 with
    balanced populations."""
    from mapreduceindex_spark.operators.clustering import (
        embedding_drift_report,
    )

    half = [(i, i % 2, [float(i % 5), float(i % 3)]) for i in range(10)]
    mirrored = half + [
        (i + 10, lab, emb) for i, lab, emb in half
    ]
    emb = spark.createDataFrame(mirrored, ["vec_id", "label", "embedding"])
    rows = embedding_drift_report(emb).collect()
    assert rows and all(r["drift2_u"] == 0 for r in rows)
    assert all(r["n_first"] == r["n_second"] for r in rows)


def test_embedding_drift_detects_centroid_shift(spark):
    from mapreduceindex_spark.operators.clustering import (
        embedding_drift_report,
    )

    rows = [(i, 0, [1.0, 0.0]) for i in range(5)] + [
        (i + 5, 0, [2.0, 0.0]) for i in range(5)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = embedding_drift_report(emb).collect()
    # centroids (1e6, 0) vs (2e6, 0) -> drift2 = 1e12
    assert [(r["label"], r["drift2_u"]) for r in out] == [(0, 10**12)]


def test_quality_reliability_decile_assignment_is_exact_ntile(spark):
    """The histogram-offset rank + explicit formula must reproduce
    standard NTILE semantics: 23 docs over 10 bins -> first 3 deciles
    hold 3 docs, the rest 2."""
    from mapreduceindex_spark.operators.corpus import (
        quality_reliability_curve,
    )

    docs = spark.createDataFrame(
        [(i, ("word " * ((i % 7) + 1)).strip()) for i in range(23)],
        ["doc_id", "text"],
    )
    out = quality_reliability_curve(docs).collect()
    sizes = [r["n_docs"] for r in sorted(out, key=lambda r: r["decile"])]
    assert sum(sizes) == 23
    assert sizes == [3, 3, 3, 2, 2, 2, 2, 2, 2, 2]
    # quality ranges must be non-overlapping and increasing
    ordered = sorted(out, key=lambda r: r["decile"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["max_quality"] <= b["min_quality"]


def test_memo_rebuilds_when_owning_context_is_stopped():
    """A session-recycling harness (bench.py stops and recreates the
    SparkSession every N queries) leaves memoized frames bound to a
    STOPPED SparkContext; such frames still report their storage level,
    then throw at first use. The liveness probe must treat them as dead
    and rebuild instead of handing them out."""
    from types import SimpleNamespace

    from mapreduceindex_spark.functions import caching

    def fake_frame(state):
        return SimpleNamespace(
            storageLevel=SimpleNamespace(useMemory=True, useDisk=False),
            sparkSession=SimpleNamespace(
                sparkContext=SimpleNamespace(
                    _jsc=SimpleNamespace(
                        sc=lambda: SimpleNamespace(
                            isStopped=lambda: state["stopped"]
                        )
                    )
                )
            ),
            unpersist=lambda: None,
        )

    state = {"stopped": False}
    builds = []

    def build():
        builds.append(1)
        return [fake_frame(state)]

    caching.release("t_stopped_ctx")
    f1 = caching.memo("t_stopped_ctx", "fp", build)[0]
    f2 = caching.memo("t_stopped_ctx", "fp", build)[0]
    assert f1 is f2 and len(builds) == 1  # live frames reused
    state["stopped"] = True  # simulate the harness recycling the session
    f3 = caching.memo("t_stopped_ctx", "fp", build)[0]
    assert len(builds) == 2 and f3 is not f1  # stale frames rebuilt
    caching.release("t_stopped_ctx")
