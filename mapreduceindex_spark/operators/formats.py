"""Wire-format round-trip queries: the JSONL / CSV / ORC source+sink
paths promoted from tested helpers (``sources/documents.py``) to
oracle-gated driver queries.

Each query writes a fixture table OUT through one non-parquet format and
reads it BACK through the matching source reader, then runs an
already-verified downstream aggregate — so the oracle is the SAME ground
truth as the parquet path (one truth, two physical routes) and any
encode/decode defect (quoting, escaping, type round-trip, schema
projection) surfaces as a value-hash mismatch, not just a row count.

Scale notes: the write is one pass (repartitioned only by the format's
natural file sizing); reads are Spark-native sources keeping column
pruning (all three) and predicate pushdown (CSV/ORC) with Catalyst. The
temp location is wiped per call — these queries exist to prove the
format path, the artifact is disposable.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def purge_stale_scratch(prefix: str, max_age_sec: int = 6 * 3600) -> None:
    """Remove ABANDONED suffixed scratch dirs under the temp root.
    App-id suffixing stops concurrent sessions clobbering each other,
    but it also means artifacts no longer self-overwrite — each session
    would leave a full corpus copy in /tmp forever.

    Liveness contract (mtime marks CREATION, reads don't refresh it):
    every caller re-creates its own artifact per call and the returned
    lazy plan is collected within the same drive — an artifact is live
    for minutes. The 6 h horizon is orders of magnitude above that; a
    session holding an uncollected plan over a 6-h-old scratch artifact
    is outside this contract (documented trade — scratch is disposable
    by definition; pin a real table for anything longer-lived)."""
    import glob
    import time

    for old in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "_*")):
        try:
            if time.time() - os.path.getmtime(old) > max_age_sec:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass


def _scratch(tag: str, spark=None) -> str:
    # suffix with the Spark application id so two concurrent sessions
    # on one machine never clobber each other's artifacts mid-query;
    # purge abandoned suffixed dirs from earlier sessions (review catch)
    purge_stale_scratch(f"mrix_fmt_{tag}")
    suffix = f"_{spark.sparkContext.applicationId}" if spark is not None else ""
    path = os.path.join(tempfile.gettempdir(), f"mrix_fmt_{tag}{suffix}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def jsonl_roundtrip_wordcount(documents: DataFrame) -> DataFrame:
    """documents → JSONL sink → ``documents_from_jsonl`` → the verified
    ``word_counts`` aggregate. JSON must round-trip arbitrary text
    content (quotes, backslashes, non-ASCII) losslessly — the word
    histogram hashes against the parquet-path oracle."""
    from mapreduceindex_spark.operators import text_analysis as TA
    from mapreduceindex_spark.sources.documents import documents_from_jsonl

    spark = documents.sparkSession
    path = _scratch("jsonl", spark)
    documents.select("doc_id", "text").write.mode("overwrite").json(path)
    return TA.word_counts(documents_from_jsonl(spark, path))


def csv_roundtrip_wordcount(documents: DataFrame) -> DataFrame:
    """documents → quoted/escaped CSV sink → ``documents_from_csv`` →
    ``word_counts``. CSV is the format where quoting bugs live (embedded
    commas, quotes, leading spaces); writer and reader use the same
    RFC-style ``escape='"'`` convention the reader helper defaults to."""
    from mapreduceindex_spark.operators import text_analysis as TA
    from mapreduceindex_spark.sources.documents import documents_from_csv

    spark = documents.sparkSession
    path = _scratch("csv", spark)
    (
        documents.select("doc_id", "text")
        .write.mode("overwrite")
        .options(header="true", escape='"')
        .csv(path)
    )
    return TA.word_counts(documents_from_csv(spark, path))


def orc_roundtrip_doc_stats(documents: DataFrame) -> DataFrame:
    """documents → ORC sink → ``documents_from_orc`` → the verified
    ``doc_stats`` per-document profile (doc-keyed, so a row-order or
    id-type defect in the ORC path cannot hide in an aggregate)."""
    from mapreduceindex_spark.operators import text_analysis as TA
    from mapreduceindex_spark.sources.documents import documents_from_orc

    spark = documents.sparkSession
    path = _scratch("orc", spark)
    documents.select("doc_id", "text").write.mode("overwrite").orc(path)
    return TA.doc_stats(documents_from_orc(spark, path))
