"""Round-trip tests for the non-parquet sources and the shard sink."""

from __future__ import annotations

import glob
import json
import os
import string
import tempfile
from collections import defaultdict

import pytest

from mapreduceindex_spark.sinks.shards import write_training_shards
from mapreduceindex_spark.sources.documents import (
    documents_from_csv,
    documents_from_jsonl,
    documents_from_text_dir,
)

ROWS = [(1, "alpha beta"), (2, "gamma delta"), (3, 'quote " comma, ok')]


def test_jsonl_source(spark):
    d = tempfile.mkdtemp(prefix="src_jsonl_")
    with open(os.path.join(d, "part0.jsonl"), "w") as fh:
        for i, t in ROWS:
            fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    got = sorted(
        (r["doc_id"], r["text"])
        for r in documents_from_jsonl(spark, d).collect()
    )
    assert got == ROWS


def test_csv_source(spark):
    d = tempfile.mkdtemp(prefix="src_csv_")
    import csv

    with open(os.path.join(d, "docs.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["doc_id", "text"])
        w.writerows(ROWS)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in documents_from_csv(spark, d).collect()
    )
    assert got == ROWS


def test_text_dir_source_deterministic_ids(spark):
    d = tempfile.mkdtemp(prefix="src_txt_")
    for name, body in [("a.txt", "one two"), ("b.txt", "three four")]:
        with open(os.path.join(d, name), "w") as fh:
            fh.write(body)
    df1 = documents_from_text_dir(spark, d)
    df2 = documents_from_text_dir(spark, d)
    a = sorted((r["doc_id"], r["text"]) for r in df1.collect())
    b = sorted((r["doc_id"], r["text"]) for r in df2.collect())
    assert a == b  # ids are path-hash stable, not run-dependent
    assert len({i for i, _ in a}) == 2


def test_streaming_watermark_drops_late_rows(spark):
    """Watermark semantics: an event older than (max_ts - delay) arriving
    in a later batch is dropped from the windowed aggregation."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="wm_src_")
    out_name = "wm_result"
    base = 1_700_000_000
    early = spark.createDataFrame(
        [(base + 0,), (base + 3600,)], ["epoch"]
    ).select(F.timestamp_seconds("epoch").alias("ts"))
    late = spark.createDataFrame(
        [(base + 1,)], ["epoch"]  # 1h older than max seen → beyond 10min wm
    ).select(F.timestamp_seconds("epoch").alias("ts"))
    early.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b0"))

    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "*"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "60 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(out_name)
        .start()
    )
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))
        _time.sleep(0.2)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["w"]["start"].timestamp(), r["n"])
        for r in spark.table(out_name).collect()
    }
    # append mode emits only windows sealed by the watermark: the base+0
    # window (aligned to the minute) closed when base+3600 advanced the
    # watermark, and it must contain ONLY the on-time row — the base+1
    # late arrival lands in the same sealed window and was dropped.
    aligned = float(base - base % 60)
    assert (aligned, 1) in got
    assert all(n == 1 for _, n in got)


def test_shard_sink_membership_stable(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 101)], ["doc_id", "text"]
    )
    out = tempfile.mkdtemp(prefix="shards_")
    write_training_shards(docs, out, n_shards=4)
    files = glob.glob(os.path.join(out, "shard=*/*.parquet"))
    assert len(glob.glob(os.path.join(out, "shard=*"))) == 4
    back = spark.read.parquet(out)
    assert back.count() == 100
    # membership must be a pure function of doc_id: rewrite with different
    # input partitioning and compare shard assignment
    out2 = tempfile.mkdtemp(prefix="shards2_")
    write_training_shards(docs.repartition(7), out2, n_shards=4)
    m1 = {r["doc_id"]: r["shard"] for r in spark.read.parquet(out).collect()}
    m2 = {r["doc_id"]: r["shard"] for r in spark.read.parquet(out2).collect()}
    assert m1 == m2


def test_letter_sink_parquet_mode_matches_txt(spark):
    """Cluster-mode parquet output must carry exactly the txt contract's
    content: same lines per letter, order reconstructible by (df desc,
    word asc)."""
    from pyspark.sql import functions as F

    from mapreduceindex_spark.operators.inverted_index import inverted_index
    from mapreduceindex_spark.sinks.letter_sink import write_letter_files

    docs = spark.createDataFrame(
        [
            (1, "apple banana zebra"),
            (2, "apple cherry"),
            (3, "banana apple dates"),
        ],
        ["doc_id", "text"],
    )
    idx = inverted_index(docs)
    txt_dir = tempfile.mkdtemp(prefix="letters_txt_")
    pq_dir = tempfile.mkdtemp(prefix="letters_pq_")
    write_letter_files(idx, txt_dir)
    write_letter_files(idx, pq_dir, materialize="parquet")
    back = spark.read.parquet(pq_dir)
    for ch in "abcdz":
        with open(os.path.join(txt_dir, f"{ch}.txt")) as fh:
            want = [ln.rstrip("\n") for ln in fh if ln.strip()]
        got = [
            r["line"]
            for r in back.filter(F.col("letter") == ch)
            .orderBy(F.col("df").desc(), F.col("word").asc())
            .collect()
        ]
        assert got == want, ch


# df ties broken by word (bat < bob), df DESC before word (be first),
# numeric id order ([2 10], not "10" < "2"), and letters with no words
SINK_DOCS = [(10, "be bob bat apple"), (2, "bat bob zed be"), (3, "apple be cat")]
LETTERS = string.ascii_lowercase


def _letter_bytes(docs):
    """The 26 letter files of ``docs`` in the reference format, computed in
    plain Python (texts are lowercase words, so tokenizing is ``split``)."""
    postings = defaultdict(set)
    for doc_id, text in docs:
        for w in text.split():
            postings[w].add(doc_id)
    files = dict.fromkeys(LETTERS, b"")
    for w, ids in sorted(postings.items(), key=lambda kv: (-len(kv[1]), kv[0])):
        files[w[0]] += f"{w}:[{' '.join(map(str, sorted(ids)))}]\n".encode()
    return files


@pytest.mark.parametrize(
    "docs, stale, relative, runs",
    [
        pytest.param(SINK_DOCS, {}, False, 1, id="fresh"),
        pytest.param(
            SINK_DOCS,
            {"a.txt": "stale:[1]\n" * 50, "q.txt": "quux:[9]\n"},
            False,
            1,
            id="stale-letter-files-overwritten",
        ),
        pytest.param(SINK_DOCS, {}, False, 2, id="second-run-identical"),
        pytest.param([], {}, False, 1, id="empty-index"),
        pytest.param(SINK_DOCS, {}, True, 1, id="relative-out-dir"),
    ],
)
def test_letter_sink_txt_bytes(
    spark, tmp_path, monkeypatch, docs, stale, relative, runs
):
    """The txt sink writes exactly the 26 reference-format letter files
    into ``out_dir`` (0-byte for empty letters) and nothing else: no
    checksum sidecars, no ``_SUCCESS``, no staging left behind. A relative
    ``out_dir`` resolves against the caller's working directory."""
    from mapreduceindex_spark.operators.inverted_index import inverted_index
    from mapreduceindex_spark.sinks.letter_sink import write_letter_files

    out = tmp_path / "out"
    out.mkdir()
    for name, body in stale.items():
        (out / name).write_text(body)
    if relative:
        monkeypatch.chdir(tmp_path)
    idx = inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    want = _letter_bytes(docs)
    for _ in range(runs):
        write_letter_files(idx, "out" if relative else str(out))
        got = {c: (out / f"{c}.txt").read_bytes() for c in LETTERS}
        assert got == want
        assert sorted(os.listdir(out)) == [f"{c}.txt" for c in LETTERS]


def test_letter_sink_refuses_split_letter(spark, tmp_path):
    """A letter whose lines the writer rolled into several part files is
    an error, not a silent partial rename."""
    from mapreduceindex_spark.operators.inverted_index import inverted_index
    from mapreduceindex_spark.sinks.letter_sink import write_letter_files

    idx = inverted_index(
        spark.createDataFrame(SINK_DOCS, "doc_id long, text string")
    )
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        with pytest.raises(RuntimeError, match="part files"):
            write_letter_files(idx, str(tmp_path))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_letter_sink_rejects_unknown_materialize(spark, tmp_path):
    from mapreduceindex_spark.sinks.letter_sink import write_letter_files

    idx = spark.createDataFrame([], "word string, df long, doc_ids array<long>")
    with pytest.raises(ValueError, match="txt_dist"):
        write_letter_files(idx, str(tmp_path), materialize="txt_dist")


def test_orc_source_round_trip(spark):
    from mapreduceindex_spark.sources.documents import documents_from_orc

    d = tempfile.mkdtemp(prefix="src_orc_")
    spark.createDataFrame(ROWS, ["doc_id", "text"]).write.mode(
        "overwrite"
    ).orc(d)
    got = sorted(
        (r["doc_id"], r["text"]) for r in documents_from_orc(spark, d).collect()
    )
    assert got == ROWS


def test_streaming_shard_sink_matches_batch_layout(spark):
    """The foreachBatch streaming tail must land every row in the SAME
    shard the batch writer assigns (crc32 membership is path-invariant),
    with nothing lost or duplicated."""
    from mapreduceindex_spark.sinks.shards import stream_to_training_shards
    from tests.conftest import SF_SMALL

    src_schema = spark.read.parquet(f"{SF_SMALL}/documents.parquet").schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_SMALL)
        .select("doc_id", "text")
    )
    out = tempfile.mkdtemp(prefix="stream_shards_")
    q = stream_to_training_shards(stream, out, n_shards=4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_out = tempfile.mkdtemp(prefix="batch_shards_")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    write_training_shards(docs, batch_out, n_shards=4)

    m_stream = {
        r["doc_id"]: r["shard"] for r in spark.read.parquet(out).collect()
    }
    m_batch = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(batch_out).collect()
    }
    assert m_stream == m_batch


def test_streaming_shard_sink_replay_is_idempotent(spark):
    """A micro-batch replayed after a failure/restart (same batch_id) must
    not double-append: the dynamic-partition-overwrite write replaces its
    own (shard, batch) directories, so running the batch body twice leaves
    exactly one copy of every row."""
    from mapreduceindex_spark.sinks.shards import write_shard_batch

    out = tempfile.mkdtemp(prefix="replay_shards_")
    batch = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], ["doc_id", "text"]
    )
    write_shard_batch(batch, 0, out, n_shards=4)
    first = sorted(
        (r["doc_id"], r["shard"], r["batch"])
        for r in spark.read.parquet(out).collect()
    )
    assert len(first) == 20
    # replay: identical batch_id, identical rows — exactly-once output
    write_shard_batch(batch, 0, out, n_shards=4)
    replayed = sorted(
        (r["doc_id"], r["shard"], r["batch"])
        for r in spark.read.parquet(out).collect()
    )
    assert replayed == first
    # a NEW batch id appends alongside, untouched by the replay
    batch2 = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20, 30)], ["doc_id", "text"]
    )
    write_shard_batch(batch2, 1, out, n_shards=4)
    assert spark.read.parquet(out).count() == 30


def test_public_api_and_sql_views(spark):
    """The package root exposes the curated API, and register_views makes
    the whole schema queryable with plain SQL."""
    import mapreduceindex_spark as mri
    from tests.conftest import SF_SMALL

    for name in (
        "inverted_index", "exact_dedup", "minhash_lsh_pairs", "cosine_topk",
        "tf_idf", "get_spark", "register_views", "corpus_from_manifest",
    ):
        assert callable(getattr(mri, name)), name

    mri.register_views(spark, SF_SMALL)
    n = spark.sql(
        "SELECT count(*) AS n FROM documents JOIN events ON 1=0"
    ).collect()[0]["n"]
    assert n == 0
    top = spark.sql(
        "SELECT event_type, count(*) AS c FROM events GROUP BY event_type"
    ).count()
    assert top == 5


def test_build_normalizes_each_token_once(spark):
    """The index build's map side filters raw tokens on ``has_words``
    before it normalizes them, so the executed plan evaluates the
    normalizing ``regexp_replace`` once, not again inside a filter."""
    from mapreduceindex_spark.operators.inverted_index import inverted_index

    idx = inverted_index(
        spark.createDataFrame(SINK_DOCS, "doc_id long, text string")
    )
    idx.collect()
    plan = (
        idx._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("regexp_replace") == 1, plan


#: manifest texts: mixed case, punctuation, digits-only tokens, a doc
#: with no words, and a file the manifest lists twice (two ids)
CLI_FILES = {
    "one.txt": "The cat's HAT; the bat.\n",
    "two.txt": "hat\ttrick 42 Cat\n\nzebra",
    "three.txt": "123 !!! ...",
    "four.txt": "Bat, bat, BAT and a hat",
}
CLI_MANIFEST = ["one.txt", "two.txt", "three.txt", "four.txt", "one.txt"]


def _cli_oracle(texts):
    """The 26 letter files for manifest-ordered ``texts`` (ids from 1),
    in the reference format, computed in plain Python."""
    postings = defaultdict(set)
    for doc_id, text in enumerate(texts, start=1):
        for tok in text.split():
            w = "".join(c for c in tok if c.isascii() and c.isalpha()).lower()
            if w:
                postings[w].add(doc_id)
    files = dict.fromkeys(LETTERS, b"")
    for w, ids in sorted(postings.items(), key=lambda kv: (-len(kv[1]), kv[0])):
        files[w[0]] += f"{w}:[{' '.join(map(str, sorted(ids)))}]\n".encode()
    return files


def test_cli_main_writes_reference_letter_files(spark, tmp_path):
    """``python -m mapreduceindex_spark M R manifest out`` run in-process:
    exactly the 26 reference letter files (0-byte for empty letters),
    whatever the mapper count."""
    from mapreduceindex_spark.__main__ import main

    for name, body in CLI_FILES.items():
        (tmp_path / name).write_text(body)
    manifest = tmp_path / "manifest.txt"
    manifest.write_text("\n".join([str(len(CLI_MANIFEST)), *CLI_MANIFEST]))
    want = _cli_oracle([CLI_FILES[name] for name in CLI_MANIFEST])
    assert any(body == b"" for body in want.values())
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_map, n_red in (("1", "2"), ("4", "3")):
            out = tmp_path / f"out_{n_map}_{n_red}"
            out.mkdir()
            assert main([n_map, n_red, str(manifest), str(out)]) == 0
            got = {c: (out / f"{c}.txt").read_bytes() for c in LETTERS}
            assert got == want
            assert sorted(os.listdir(out)) == [f"{c}.txt" for c in LETTERS]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
