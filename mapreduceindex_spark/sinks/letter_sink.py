"""Per-letter text sink (SURVEY.md §2 O12).

Writes the inverted index as 26 files ``a.txt`` … ``z.txt`` with lines
``word:[id1 id2 ...]`` ordered (df DESC, word ASC) within each file —
the reference's output contract (``src/reducer.c:110-147``). All 26 files
are materialized, including 0-byte ones for letters with no words
(golden-dir contract: ``checker/test_out_small/d.txt`` is empty; the
checker diffs all 26, ``checker/checker.sh:25-33``).

Scale design: the index is repartitioned BY LETTER (26-way hash on the
first character) and sorted within partitions, so each letter's lines are
produced in global order by exactly one task. Every byte is written by
Spark's own text datasource through the output-commit protocol, so task
retries and speculative attempts are safe on any master; the driver only
renames each letter's single committed part file into place. At 100 TB
the per-letter flat text files are themselves an artifact of the
reference's contract — a cluster deployment uses ``materialize="parquet"``
(letter-partitioned parquet, order reconstructed by ``ORDER BY``).
"""

from __future__ import annotations

import os
import string
from collections import defaultdict
from urllib.parse import urlparse

from py4j.java_gateway import is_instance_of
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduceindex_spark.operators.inverted_index import letter_of


def format_lines(index: DataFrame) -> DataFrame:
    """``(letter, df, word, line)`` rows in reference line format.

    ``word:[id1 id2 ...]`` — ids ascending, space-separated
    (``reducer.c:132-139``).
    """
    return index.select(
        letter_of("word").alias("letter"),
        "df",
        "word",
        F.concat(
            F.col("word"),
            F.lit(":["),
            F.array_join(
                F.transform(F.col("doc_ids"), lambda x: x.cast("string")), " "
            ),
            F.lit("]"),
        ).alias("line"),
    )


def write_letter_files(
    index: DataFrame, out_dir: str, materialize: str = "txt"
) -> None:
    """Materialize the per-letter index from an inverted-index DataFrame.

    A scheme-less ``out_dir`` is resolved against the caller's working
    directory, not the JVM's.

    - ``materialize="txt"`` (the reference contract): exactly the 26 files
      ``out_dir/{a..z}.txt``, 0-byte for letters with no words; stale
      letter files are replaced, other entries of ``out_dir`` are left
      alone. Spark's text datasource writes the letter-partitioned lines
      into a staging dir inside ``out_dir`` (``partitionBy('letter')``,
      commit protocol); the driver then renames each letter's single
      committed part file to ``<letter>.txt`` with the Hadoop FileSystem
      API (26 metadata ops) and deletes the staging dir. No row passes
      through the driver or a Python worker.
    - ``materialize="parquet"`` (cluster mode): letter-partitioned parquet
      at ``out_dir/letter=<x>/`` carrying ``(df, word, line)``, no
      driver-side concatenation — the 100 TB form, where a single flat
      text file per letter is itself the bottleneck. The reference order
      is data, not file layout: readers reconstruct it with
      ``ORDER BY df DESC, word`` (parquet part-file order is not a
      contract), and partition pruning serves per-letter queries.
    """
    if materialize not in ("txt", "parquet"):
        raise ValueError(f"write_letter_files: unknown materialize {materialize!r}")
    if not urlparse(out_dir).scheme:
        out_dir = os.path.abspath(out_dir)
    lines = _by_letter(format_lines(index))
    if materialize == "parquet":
        lines.write.mode("overwrite").partitionBy("letter").parquet(out_dir)
        return
    # inside out_dir, so the sink writes nowhere else; the ``_`` prefix
    # hides it from Spark readers of out_dir while the write is in flight
    staging = out_dir.rstrip("/") + "/_letter_staging"
    (
        lines.select("letter", F.col("line").alias("value"))
        .write.mode("overwrite")
        .partitionBy("letter")
        .text(staging)
    )
    _rename_into_place(lines.sparkSession, staging, out_dir)


def _by_letter(lines: DataFrame) -> DataFrame:
    """Each letter wholly in one of 26 hash partitions, its rows in the
    reference order (df DESC, word ASC) — the layout both writers share.
    """
    return lines.repartition(26, "letter").sortWithinPartitions(
        "letter", F.col("df").desc(), F.col("word").asc()
    )


def _rename_into_place(spark, staging: str, out_dir: str) -> None:
    """Move each letter's committed part file to ``out_dir/<letter>.txt``.

    Each letter lands wholly in one partition and text rows keep task
    write order, so the letter's single part file IS the letter file.
    Renames, creates and deletes go to the raw filesystem under a
    checksummed one (Hadoop's local ``file:``), which would otherwise
    leave a ``.<letter>.txt.crc`` sidecar next to every letter file.
    """
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    fs = HPath(out_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    if is_instance_of(
        spark.sparkContext._gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"
    ):
        fs = fs.getRawFileSystem()
    parts = defaultdict(list)
    for st in fs.globStatus(HPath(staging, "letter=*/part-*")) or []:
        path = st.getPath()
        parts[path.getParent().getName()[len("letter="):]].append(path)
    for ch, found in parts.items():
        if len(found) > 1:
            # each letter is one hash partition -> one committed part
            # file; >1 means the layout assumption broke (e.g.
            # maxRecordsPerFile rolled the writer) and a blind rename
            # would drop lines
            raise RuntimeError(
                f"letter {ch!r}: {len(found)} part files in {staging}; "
                "expected exactly 1"
            )
    for ch in string.ascii_lowercase:
        dst = HPath(out_dir, f"{ch}.txt")
        fs.delete(dst, False)
        if ch in parts:
            if not fs.rename(parts[ch][0], dst):
                raise RuntimeError(f"rename failed: {parts[ch][0]} -> {dst}")
        else:
            fs.create(dst, True).close()  # 0-byte empty-letter contract
    fs.delete(HPath(staging), True)
