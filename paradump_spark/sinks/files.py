"""File sinks — the Spark restatement of the reference's writer stages:

* K1 SQL-insert files — dataChunkGeneratorSql src/paradump/paradump.go:2707-3056
  + tableFileWriter :3196-3420.  Rendering and statement framing are one
  JVM-side expression per row (functions.render.values_tuple plus the
  header / ``INSERT … VALUES`` prefix / ``,`` or ``;`` decided from the
  row's position in its partition), written by the plain text writer —
  no row crosses to Python.  One output file per partition replaces the
  reference's ``%p`` per-writer-thread file naming (:3207-3215).
* K2 CSV files — :3059-3171; fast path = Spark's native CSV writer, exact
  path = functions.render.csv_line → text writer (reference ``\\N``/empty
  NULL convention is per-column-kind, which the native writer can't do).
* K3 zstd — codec option (ref zstd writer :3239-3332, level flag
  ``-dumpcompresslevel`` :3498, concurrency :3499).  Parquet zstd is
  built into parquet-java everywhere.  *Text/CSV* zstd normally needs
  the Hadoop native codec; where that is absent (this environment),
  ``compression="zstd"`` transparently falls back to an uncompressed
  distributed write + :func:`zstd_compress_files` — a finalize pass that
  re-codes each committed part file to standard zstd frames with
  pyarrow's bundled libzstd (zstdcat-compatible; proven by a CLI
  round-trip test).  Other codecs (gzip/bzip2/lz4) stream through
  Hadoop's built-ins as before.
* K4 noop — :3174-3185; ``format("noop")`` keeps the full read+render path
  for benchmarking, like the reference's null sink.

Scale: every sink is ``df.write`` — distributed, no driver materialization,
files per partition, codec-parallel.
"""

from __future__ import annotations

import logging
import re
import threading

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paradump_spark.functions.render import csv_line, values_tuple
from paradump_spark.meta import TableMeta

log = logging.getLogger("paradump_spark")

# ref header: src/paradump/paradump.go:1779-1787
SQL_FILE_HEADER = "SET NAMES utf8mb4;\nSET TIME_ZONE='+00:00';"

#: ``monotonically_increasing_id()`` holds a row's position within its
#: partition in the low 33 bits and the partition index above them.
_POS_BITS = 33

#: one :func:`_partition_counts` job at a time in this process.  Its one
#: task runs two hash aggregates, each taking a Tungsten page (32 MB on a
#: 2 g ``local[3]`` driver) that G1 allocates as humongous regions.  With
#: tables dumped in flight, overlapping counts doubled that and made G1
#: grow the heap (perfbench dump peak RSS +11% on a 4-vCPU VM) for no
#: speed: a count is one short task, and the other tables' writes fill
#: the idle slots.
_COUNT_LOCK = threading.Lock()


def rendered_tuples(
    df: DataFrame, meta: TableMeta | None = None, dialect: str = "mysql",
    binary_style: str | None = None,
) -> DataFrame:
    """One string column ``v`` holding each row's ``(...)`` VALUES tuple.

    ``binary_style="hex"`` renders binary cells as bare ``0x…`` literals
    (mysqldump ``--hex-blob``) instead of the dialect default."""
    cols = [F.col(c) for c in df.columns]
    metas = [meta.column(c) for c in df.columns] if meta else None
    types = [f.dataType for f in df.schema.fields]
    return df.select(
        values_tuple(cols, metas, dialect, types, binary_style).alias("v")
    )


def write_sql_inserts(
    df: DataFrame,
    table_name: str,
    path: str,
    meta: TableMeta | None = None,
    dialect: str = "mysql",
    insertsize: int = 500,
    compression: str | None = None,
    compression_level: int = 1,
    header: bool = True,
    mode: str = "overwrite",
    partitions: int | None = None,
) -> int:
    """K1: multi-row ``INSERT INTO t (cols) VALUES (…),(…);`` text files.

    ``insertsize`` rows per statement (ref default 500, :3490); header
    lines at the start of each file (ref :1779-1787).  One output line per
    row: a single codegen'd expression renders the row's VALUES tuple and
    frames it — the file header before a partition's first row, the
    ``INSERT … VALUES`` prefix before every ``insertsize``-th row, and
    ``;`` after a statement's last row (``,`` after every other).  The
    last row of a partition is known from its row count, taken first by
    :func:`_partition_counts`; a row past that count fails the job
    instead of leaving a statement unterminated.  No row leaves the JVM.
    A partition without rows leaves no file, unless the table has no rows
    at all; then its one empty ``part-00000`` stays.

    The count and the write must see the same partitions.  A plan with an
    exchange may not (AQE can coalesce the pruned count differently), so
    such an input — ``partitions=``, a limit, a join or an aggregate — is
    pinned with ``localCheckpoint`` first; a plain scan is read twice.
    The input must produce the same rows on both reads.

    ``partitions`` repartitions before rendering — use when the input is
    a single file/row-group so the render runs N-wide (the reference's N
    parallel readers); leave None when the scan already has splits.

    Returns the number of rows written.
    """
    if insertsize < 1:
        raise ValueError(f"insertsize must be positive, got {insertsize}")
    # identifier quoting must follow the dialect like the cell rendering
    # does: backtick-quoted identifiers are a MySQL-ism that PostgreSQL
    # and MSSQL (QUOTED_IDENTIFIER, the default) reject
    iq = "`" if dialect == "mysql" else '"'
    cols_sql = ", ".join(f"{iq}{c}{iq}" for c in df.columns)
    prefix = f"INSERT INTO {iq}{table_name}{iq} ({cols_sql}) VALUES\n"
    if partitions:
        df = df.repartition(partitions)

    def with_ids(df: DataFrame) -> DataFrame:
        # the id gets its own projection, evaluated once per row: the
        # framing reads it several times, and each copy of the expression
        # would keep its own counter
        return rendered_tuples(df, meta, dialect).select(
            "v", F.monotonically_increasing_id().alias("id")
        )

    ided = with_ids(df)
    exchange = _exchange_node(ided)
    if exchange:
        df = df.localCheckpoint(eager=True)
        ided = with_ids(df)
    counts = _partition_counts(df)
    log.info(
        "sql insert framing %(path)s: %(reason)s "
        "(partitions with rows=%(partitions)s)",
        {
            "path": "pinned" if exchange else "scan",
            "reason": f"plan has {exchange}" if exchange else "plan has no exchange",
            "partitions": sum(1 for c in counts if c),
        },
    )
    part = F.shiftright("id", _POS_BITS)
    pos = F.col("id").bitwiseAND(F.lit((1 << _POS_BITS) - 1))
    count = F.try_element_at(
        F.lit(np.array(counts, dtype=np.int64)), part.cast("int") + 1
    )
    last = (pos % insertsize == insertsize - 1) | (pos == count - 1)
    line = F.concat(
        *([F.when(pos == 0, F.lit(SQL_FILE_HEADER + "\n")).otherwise("")]
          if header else []),
        F.when(pos % insertsize == 0, F.lit(prefix)).otherwise(""),
        F.col("v"),
        F.when(last, F.lit(";")).otherwise(","),
    )
    out = ided.select(
        F.when(F.coalesce(pos < count, F.lit(False)), line)
        .otherwise(F.raise_error(F.concat(
            F.lit(f"write_sql_inserts({table_name}): partition "),
            part.cast("string"),
            F.lit(" has more rows than its count; the input changed between reads"),
        )))
        .alias("line")
    )
    fs, before = _list_dir(out.sparkSession, path)
    # one statement spans many lines: a session-level maxRecordsPerFile
    # would cut it in two files
    _commit_text(
        out.write.mode(mode).option("maxRecordsPerFile", 0), out, path,
        compression, compression_level, "text",
    )  # K3: zstd falls back to the pyarrow finalize pass without natives
    if sum(counts):
        # Spark writes part-00000 even when partition 0 is empty: a file
        # without the header would pass for a dump file.  A 0-row table
        # keeps it, so that its dump directory still has one file.
        _, after = _list_dir(out.sparkSession, path)
        for name in after.keys() - before.keys():
            m = re.match(r"part-(\d+)", name)
            if m and not (int(m[1]) < len(counts) and counts[int(m[1])]):
                fs.delete(after[name], False)
    return sum(counts)


def _list_dir(spark, path: str):
    """The Hadoop FileSystem of ``path`` and ``{name: Path}`` of the files
    directly under it (empty when ``path`` does not exist yet)."""
    root = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return fs, {}
    return fs, {st.getPath().getName(): st.getPath() for st in fs.listStatus(root)}


def _exchange_node(df: DataFrame) -> str | None:
    """Name of the first exchange in ``df``'s physical plan, or None.

    Under AQE the exchanges sit in the adaptive plan's ``initialPlan``."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Exchange" in name:
            return name
        if name == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return None


def _partition_counts(df: DataFrame) -> list[int]:
    """Rows in each partition of ``df``, indexed by partition, up to the
    last partition that holds rows.

    One column-free job: ``coalesce(1)`` gives it one stage and one task
    and no shuffle, so that task reads every split's row-group metadata
    (a file scan) serially — footers only, no column data.  Such jobs run
    one at a time (``_COUNT_LOCK``)."""
    counted = (
        df.select(F.spark_partition_id().alias("p"))
        .coalesce(1)
        .groupBy("p")
        .count()
    )
    with _COUNT_LOCK:
        rows = counted.collect()
    counts = [0] * (max((r["p"] for r in rows), default=-1) + 1)
    for r in rows:
        counts[r["p"]] = r["count"]
    return counts


def write_csv(
    df: DataFrame,
    path: str,
    meta: TableMeta | None = None,
    exact: bool = False,
    compression: str | None = None,
    compression_level: int = 1,
    mode: str = "overwrite",
    partitions: int | None = None,
) -> None:
    """K2: CSV files.

    ``exact=True`` renders with the reference's cell rules (quote only
    when needed, ``\\N`` NULL for quoted kinds, empty for others,
    trimmed fractional seconds) via one codegen'd expression per row.
    ``exact=False`` uses Spark's native CSV writer (faster; NULL
    convention is global ``\\N``, not per-kind).
    """
    if partitions:
        df = df.repartition(partitions)
    if exact:
        cols = [F.col(c) for c in df.columns]
        metas = [meta.column(c) for c in df.columns] if meta else None
        types = [f.dataType for f in df.schema.fields]
        out = df.select(csv_line(cols, metas, types).alias("line"))
        _commit_text(
            out.write.mode(mode), out, path, compression, compression_level, "text"
        )
        return
    writer = (
        df.write.mode(mode)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .option("quote", '"')
        .option("escape", '"')
    )
    _commit_text(writer, df, path, compression, compression_level, "csv")


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    compression_level: int = 1,
    mode: str = "overwrite",
    partitions: int | None = None,
) -> None:
    """JSON-lines dump — the training-corpus interchange format (beyond
    the reference's sql/csv surface; every public LLM dataset ships as
    jsonl[.zst]).

    One ``to_json(struct(*))`` codegen'd expression per row through the
    text committer, so the K3 compression path (including the pyarrow
    zstd finalize) applies unchanged.  Key order is the column order —
    deterministic, and ``spark.read.json`` round-trips it.
    """
    if partitions:
        df = df.repartition(partitions)
    out = df.select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("line")
    )
    _commit_text(
        out.write.mode(mode), out, path, compression, compression_level, "text"
    )


#: Spark/Hadoop can compress text output with these without native codecs.
_HADOOP_TEXT_CODECS = ("gzip", "bzip2", "deflate", "none")


#: applicationId -> whether that SparkContext's JVM has the Hadoop zstd
#: codec.  Native codecs cannot appear in a running JVM, so one probe per
#: context is enough; a failed probe costs tens of ms of py4j per write.
_HADOOP_ZSTD: dict[str, bool] = {}


def _hadoop_zstd_available(spark) -> bool:
    """True when the JVM can actually construct the Hadoop zstd codec
    (needs libhadoop + libzstd natives; absent in plain pyspark installs).
    Probed once per SparkContext."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app not in _HADOOP_ZSTD:
        try:
            codec = sc._jvm.org.apache.hadoop.io.compress.ZStandardCodec()
            codec.setConf(sc._jsc.hadoopConfiguration())
            codec.createOutputStream(sc._jvm.java.io.ByteArrayOutputStream())
            _HADOOP_ZSTD[app] = True
        except Exception:  # noqa: BLE001 — any JVM failure means "no native codec"
            _HADOOP_ZSTD[app] = False
    return _HADOOP_ZSTD[app]


def zstd_compress_files(
    path: str,
    level: int = 1,
    chunk_bytes: int = 32 << 20,
    concurrency: int = 4,
) -> list[str]:
    """K3 finalize pass: compress each committed ``part-*`` text file to
    ``<name>.zst`` (standard zstd frames via pyarrow's bundled libzstd —
    one frame per ≤``chunk_bytes`` chunk; concatenated frames are a valid
    stream, so ``zstdcat`` reads the file as-is) and remove the original.

    Mirrors the reference's zstd writer knobs: ``level`` ≙
    ``-dumpcompresslevel`` (default 1; src/paradump/paradump.go:3498),
    ``concurrency`` ≙ ``-dumpcompressconcur`` (:3499) — here a thread
    pool over files (the per-file work is libzstd C code, so threads
    overlap).  Runs after the job commits, like :func:`rename_dump_files`;
    per-file cost is one read+write.  On a real cluster with the Hadoop
    native codec the streaming path writes zstd directly and this pass
    never runs (see :func:`write_sql_inserts`).
    """
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa

    parts = sorted(
        f
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith((".crc", ".zst", "_SUCCESS"))
    )

    def compress_one(fname: str) -> str:
        codec = pa.Codec("zstd", compression_level=level)
        src = os.path.join(path, fname)
        dst = src + ".zst"
        with open(src, "rb") as fin, open(dst + "._tmp", "wb") as fout:
            while True:
                chunk = fin.read(chunk_bytes)
                if not chunk:
                    break
                fout.write(codec.compress(chunk, asbytes=True))
        os.rename(dst + "._tmp", dst)  # atomic finalize
        os.remove(src)
        return fname + ".zst"

    with ThreadPoolExecutor(max_workers=max(1, concurrency)) as ex:
        return list(ex.map(compress_one, parts))


def _commit_text(
    writer, out: DataFrame, path: str, compression: str | None,
    compression_level: int, fmt: str,
) -> None:
    """Commit a text/CSV write honoring ``compression``: stream through
    the Hadoop codec when the JVM has it; for zstd without the native
    codec, write plain and run :func:`zstd_compress_files` as the
    finalize pass."""
    post_zstd = compression == "zstd" and not _hadoop_zstd_available(
        out.sparkSession
    )
    if compression and not post_zstd:
        writer = writer.option("compression", compression)
    getattr(writer, fmt)(path)
    if post_zstd:
        zstd_compress_files(path, level=compression_level)


def write_noop(df: DataFrame) -> None:
    """K4: consume and discard — full read/render cost, no I/O
    (ref :3174-3185)."""
    df.write.format("noop").mode("overwrite").save()


def write_parquet(
    df: DataFrame, path: str, compression: str = "zstd", mode: str = "overwrite"
) -> None:
    """Lake-native sink (beyond-reference): at 100 TB this is the format
    the other operators read back."""
    df.write.mode(mode).option("compression", compression).parquet(path)


def write_orc(
    df: DataFrame, path: str, compression: str = "zlib", mode: str = "overwrite"
) -> None:
    """ORC sink (beyond-reference; Hive-ecosystem handoff).  Default
    codec is zlib — ORC's zstd needs Hadoop natives absent here, and
    unlike the text path an ORC file is not re-codeable after commit."""
    df.write.mode(mode).option("compression", compression).orc(path)


def render_file_template(
    template: str,
    db_name: str,
    table_name: str,
    part_id: int,
    mode: str,
    compression: str | None = None,
) -> str:
    """The reference's dump-file naming template
    (``dump_%d_%t_%p%m%z``, src/paradump/paradump.go:3207-3215):
    ``%d`` db, ``%t`` table, ``%p`` writer/partition id, ``%m`` ``.mode``,
    ``%z`` compression suffix, ``%%`` literal percent."""
    ext = {"zstd": ".zst", "gzip": ".gz", "bzip2": ".bz2", "lz4": ".lz4"}.get(
        compression or "", ""
    )
    subst = {
        "%": "%",
        "d": db_name,
        "t": table_name,
        "p": str(part_id),
        "m": f".{mode}",
        "z": ext,
    }
    # single pass: %% never re-matches, and directive-like substrings in
    # substituted VALUES (a db named "a%tb") are never re-expanded
    return re.sub(r"%(%|d|t|p|m|z)", lambda m: subst[m.group(1)], template)


def rename_dump_files(
    path: str,
    template: str,
    db_name: str,
    table_name: str,
    mode: str,
    compression: str | None = None,
) -> list[str]:
    """Rename Spark's ``part-*`` output files to the reference's template.

    Spark names files per write task; the reference names them per writer
    thread (``%p``).  After the job commits, one driver-side pass maps
    part index → ``%p`` — metadata-only renames on any FS/object store
    with atomic rename.  Returns the new file names in part order.
    """
    import os

    parts = sorted(
        f
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith((".crc", "_SUCCESS"))
    )
    renamed = [
        render_file_template(template, db_name, table_name, i, mode, compression)
        for i in range(len(parts))
    ]
    if len(set(renamed)) != len(renamed):
        # a template without %p renders every part to the same name; the
        # renames would silently overwrite each other — refuse instead
        raise ValueError(
            f"template {template!r} renders non-unique names for "
            f"{len(parts)} parts (missing %p?)"
        )
    for f, new in zip(parts, renamed):
        os.rename(os.path.join(path, f), os.path.join(path, new))
    return renamed
