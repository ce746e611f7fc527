"""CLI entry point — drop-in equivalent of the reference binary.

Reference usage (``src/main.c:9-13``)::

    ./tema1 <num_mappers> <num_reducers> <input_manifest>

Engine usage::

    python -m mapreduceindex_spark <num_mappers> <num_reducers> \
        <input_manifest> [output_dir]

Produces the same 26 ``a.txt`` … ``z.txt`` files (golden ``diff -w``
parity) in ``output_dir`` (default: current directory, like the
reference). The reducer count sets the shuffle parallelism, the knob
the reference's R controlled. The mapper count is accepted for the
reference's CLI shape and otherwise unused: the ``binaryFile`` scan
already packs the manifest's files into parallel scan partitions, and
re-partitioning them would add an exchange. Correctness is
config-independent, exactly as the reference checker demands.
"""

from __future__ import annotations

import sys


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(
            "usage: python -m mapreduceindex_spark "
            "<num_mappers> <num_reducers> <input_manifest> [output_dir]",
            file=sys.stderr,
        )
        return 2
    n_red = int(argv[1])
    manifest, out_dir = argv[2], (argv[3] if len(argv) > 3 else ".")

    from mapreduceindex_spark.operators.inverted_index import inverted_index
    from mapreduceindex_spark.session import get_spark
    from mapreduceindex_spark.sinks.letter_sink import write_letter_files
    from mapreduceindex_spark.sources.manifest import corpus_from_manifest

    spark = get_spark(
        app_name="mapreduceindex", shuffle_partitions=max(n_red, 1)
    )
    docs = corpus_from_manifest(spark, manifest)
    write_letter_files(inverted_index(docs, ordered=False), out_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
