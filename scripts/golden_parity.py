"""Golden-output parity vs the reference checker corpora: run the full
manifest → inverted index → per-letter sink pipeline on both reference
corpora and diff (whitespace-insensitive) all 26 letter files against the
reference's committed golden outputs — including 0-byte empties.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

#: the checkout this script lives in — it runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mapreduceindex_spark.operators.inverted_index import inverted_index
from mapreduceindex_spark.session import get_spark
from mapreduceindex_spark.sinks.letter_sink import write_letter_files
from mapreduceindex_spark.sources.manifest import corpus_from_manifest

CASES = [
    ("/root/reference/checker/test_small.txt",
     "/root/reference/checker/test_out_small"),
    ("/root/reference/checker/test.txt",
     "/root/reference/checker/test_out"),
]


def main():
    spark = get_spark(app_name="golden_parity", cores=8,
                      shuffle_partitions=8)
    bad = 0
    for manifest, golden in CASES:
        docs = corpus_from_manifest(spark, manifest)
        with tempfile.TemporaryDirectory() as outdir:
            write_letter_files(inverted_index(docs), outdir)
            ok = 0
            for letter in "abcdefghijklmnopqrstuvwxyz":
                mine = Path(outdir) / f"{letter}.txt"
                ref = Path(golden) / f"{letter}.txt"
                r = subprocess.run(
                    ["diff", "-w", str(mine), str(ref)],
                    capture_output=True,
                )
                if r.returncode == 0:
                    ok += 1
                else:
                    print(f"MISMATCH {manifest} {letter}.txt")
                    bad += 1
            print(f"{manifest}: {ok}/26 letters match", flush=True)
    if bad:
        sys.exit(1)
    print("golden parity: all green")


if __name__ == "__main__":
    main()
