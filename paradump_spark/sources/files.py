"""File sources — reading dump output back (the file analogue of the
reference's dst chunk reader, src/parasync/parasync.go:2626-2834, which
re-reads what a previous dump/copy produced so it can be diffed).

A dump → read-back → diff loop is the standard end-to-end consistency
check: ``write_csv`` + ``read_csv_dump`` round-trips bit-exactly under
the same convention (``\\N`` NULL, ``"``-quote/escape), so
``operators.diff.diff_classified(src, read_back, pk)`` counting zero DML
proves the dump complete.  Schema is explicit (from the source table):
dumps carry no header, and inference at 100 TB means an extra full pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv_dump(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    compression: str | None = None,
) -> DataFrame:
    """Read files produced by ``sinks.files.write_csv(exact=False)`` back
    into their original schema.  Distributed file-splittable scan; codecs
    are detected per-file by extension."""
    reader = (
        spark.read.schema(schema)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .option("quote", '"')
        .option("escape", '"')
        .option("header", "false")
    )
    return reader.csv(path)


def read_text_zst(spark: SparkSession, path: str, glob: str = "*.zst") -> DataFrame:
    """Distributed read-back of zstd text files written by the K3
    finalize pass (`sinks.files.zstd_compress_files`) — one ``value``
    line column, like ``spark.read.text``.

    Hadoop has no built-in zstd TEXT codec in this environment (the
    same gap the sink works around), so the read is ``binaryFile`` →
    per-file pyarrow decompress inside ``mapInPandas``.  Each .zst file
    is one task (frames are not splittable without a seekable-format
    index); at scale the dump's many part files ARE the parallelism —
    same contract as gzip text.  Decompressed bytes stream per Arrow
    batch; only one file's content is in memory per task.
    """
    from typing import Iterator

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def decomp(it: Iterator) -> Iterator:
        import pandas as pd
        import pyarrow as pa

        for pdf in it:
            for content in pdf["content"]:
                # streaming decompress — frames carry no decompressed
                # size, and this is how the sink's finalize pass wrote
                # them (CompressedOutputStream)
                stream = pa.CompressedInputStream(
                    pa.BufferReader(bytes(content)), "zstd"
                )
                text = stream.read().decode("utf-8")
                lines = text.split("\n")
                if lines and lines[-1] == "":
                    lines.pop()
                yield pd.DataFrame({"value": lines})

    return raw.mapInPandas(decomp, T.StructType([T.StructField("value", T.StringType())]))


def read_jsonl_zst(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    glob: str = "*.zst",
) -> DataFrame:
    """Read ``sinks.files.write_jsonl(compression='zstd')`` output back
    into its original schema: :func:`read_text_zst` lines → ``from_json``
    typed promotion (JVM parse, one expression).  Closes the JSONL-zstd
    round-trip — dump → read-back → ``diff_classified`` == 0 DML."""
    from pyspark.sql import functions as F

    lines = read_text_zst(spark, path, glob)
    return lines.select(
        F.from_json(F.col("value"), schema).alias("r")
    ).select("r.*")
