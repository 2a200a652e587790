"""K1 statement framing in the JVM (``sinks.files.write_sql_inserts``).

The oracle is the Arrow/pandas joiner the framing replaced, kept here
verbatim in behaviour: render each row's tuple in codegen, then join the
tuples of each partition into ``insertsize``-row statements in Python.
Every case compares the part files byte for byte, per partition."""

import logging
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paradump_spark.sinks import files as FILES
from paradump_spark.sinks.files import (
    SQL_FILE_HEADER,
    _commit_text,
    rename_dump_files,
    rendered_tuples,
    write_sql_inserts,
)
from tools.jobstats import job_group

DIALECTS = ("mysql", "postgres", "mssql")


def oracle_write(df, table_name, path, meta=None, dialect="mysql",
                 insertsize=500, compression=None, header=True,
                 partitions=None):
    iq = "`" if dialect == "mysql" else '"'
    cols_sql = ", ".join(f"{iq}{c}{iq}" for c in df.columns)
    prefix = f"INSERT INTO {iq}{table_name}{iq} ({cols_sql}) VALUES\n"
    if partitions:
        df = df.repartition(partitions)
    rendered = rendered_tuples(df, meta, dialect)
    out_schema = T.StructType([T.StructField("line", T.StringType())])

    def to_statements(it):
        import pandas as pd

        first = True
        buf = []
        for pdf in it:
            lines = []
            if first and header:
                lines.append(SQL_FILE_HEADER)
                first = False
            for v in pdf["v"].tolist():
                buf.append(v)
                if len(buf) >= insertsize:
                    lines.append(prefix + ",\n".join(buf) + ";")
                    buf.clear()
            if lines:
                yield pd.DataFrame({"line": lines})
        if buf:
            yield pd.DataFrame({"line": [prefix + ",\n".join(buf) + ";"]})

    out = rendered.mapInPandas(to_statements, out_schema)
    _commit_text(out.write.mode("overwrite"), out, path, compression, 1, "text")


def part_files(path):
    """{part file name without its write uuid: bytes}."""
    return {
        re.sub(r"^(part-\d+)-[0-9a-f-]{36}", r"\1", f):
            open(os.path.join(path, f), "rb").read()
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    }


def assert_same_as_oracle(df, tmp_path, name, **kw):
    write_sql_inserts(df, "customer", str(tmp_path / f"{name}_new"), **kw)
    oracle_write(df, "customer", str(tmp_path / f"{name}_old"), **kw)
    new = part_files(str(tmp_path / f"{name}_new"))
    assert new == part_files(str(tmp_path / f"{name}_old")), name
    return new


@pytest.fixture(scope="module")
def three_files(spark, sf_dir, tmp_path_factory):
    """customer as three parquet files of 50 rows each (keys 0-49, 50-99,
    100-149): a scan with three partitions of known size."""
    path = str(tmp_path_factory.mktemp("framing") / "cust3")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    for lo in (0, 50, 100):
        cust.filter(F.col("c_custkey").between(lo, lo + 49)).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 3
    return df


def test_framing_matches_joiner_every_dialect_and_insertsize(three_files, tmp_path):
    # 1 and 7 leave partial statements; 25 divides a partition (50 rows);
    # 64 is larger than a partition
    for dialect in DIALECTS:
        for n in (1, 7, 25, 64):
            assert_same_as_oracle(
                three_files, tmp_path, f"{dialect}_{n}", dialect=dialect, insertsize=n
            )


def test_framing_matches_joiner_header_zstd_partitions_and_empty(three_files, tmp_path):
    files = assert_same_as_oracle(three_files, tmp_path, "nohdr", insertsize=7,
                                  header=False)
    assert not any(b.startswith(b"SET NAMES") for b in files.values())
    files = assert_same_as_oracle(three_files, tmp_path, "zstd", insertsize=7,
                                  compression="zstd")
    assert files and all(f.endswith(".zst") for f in files)
    assert len(assert_same_as_oracle(three_files, tmp_path, "rep2", insertsize=7,
                                     partitions=2)) == 2
    empty = three_files.filter(F.col("c_custkey") < 0)
    assert_same_as_oracle(empty, tmp_path, "empty", insertsize=7)
    assert write_sql_inserts(empty, "customer", str(tmp_path / "empty2")) == 0


def test_empty_partition_leaves_no_headerless_file(three_files, tmp_path):
    """The 50-99 file holds no row that passes, and it is partition 0:
    Spark's writer makes part-00000 for it anyway (the joiner left that
    file there, empty and headerless).  Only the two partitions with rows
    leave files, so every renamed dump file starts with the header."""
    sparse = three_files.filter((F.col("c_custkey") <= 20) | (F.col("c_custkey") > 120))
    assert sparse.where(F.spark_partition_id() == 0).count() == 0
    new, old = str(tmp_path / "sparse_new"), str(tmp_path / "sparse_old")
    assert write_sql_inserts(sparse, "customer", new, insertsize=7) == 50
    oracle_write(sparse, "customer", old, insertsize=7)
    files = part_files(new)
    assert sorted(files) == ["part-00001-c000.txt", "part-00002-c000.txt"]
    assert files == {f: b for f, b in part_files(old).items() if b}
    names = rename_dump_files(new, "dump_%d_%t_%p%m", "db", "customer", "sql")
    assert names == ["dump_db_customer_0.sql", "dump_db_customer_1.sql"]
    for n in names:
        assert open(os.path.join(new, n)).read().startswith(SQL_FILE_HEADER + "\n")


def test_append_drops_only_its_own_empty_part_file(three_files, tmp_path):
    """An append keeps the files earlier writes left in the directory."""
    out = str(tmp_path / "append")
    sparse = three_files.filter(F.col("c_custkey") > 120)
    write_sql_inserts(three_files, "customer", out, insertsize=7)
    first = part_files(out)
    write_sql_inserts(sparse, "customer", out, insertsize=7, mode="append")
    names = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(names) == len(first) + 1
    assert sum(f.startswith("part-00000") for f in names) == 1


def _framing_record(caplog):
    (rec,) = [
        r for r in caplog.records
        if r.name == "paradump_spark" and r.msg.startswith("sql insert framing")
    ]
    return rec.args


def _group_plans(spark, group):
    """Physical plan texts of the SQL executions whose jobs ran under
    ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = {int(j) for j in sc.statusTracker().getJobIdsForGroup(group)}
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        keys = e.jobs().keySet().toSeq()
        if {int(keys.apply(k)) for k in range(keys.size())} & jobs:
            plans.append(e.physicalPlanDescription())
    return plans


def test_scan_input_runs_count_and_write_only(spark, three_files, tmp_path, caplog):
    with caplog.at_level(logging.INFO, logger="paradump_spark"):
        with job_group(spark, "framing_scan") as jg:
            rows = write_sql_inserts(three_files, "customer", str(tmp_path / "s"))
    assert rows == 150
    assert jg.stats["jobs"] == 2  # count + write, no pin
    assert jg.stats["shuffle_write"] == 0
    plans = _group_plans(spark, "framing_scan")
    assert plans and not any(
        "MapInPandas" in p or "Python" in p or "ArrowEval" in p for p in plans
    )
    assert _framing_record(caplog) == {
        "path": "scan", "reason": "plan has no exchange", "partitions": 3,
    }


@pytest.mark.parametrize("case", ["limit", "repartition"])
def test_exchange_input_is_pinned_and_matches_joiner(
    spark, sf_dir, three_files, tmp_path, caplog, case
):
    if case == "limit":
        # a single-file input: the limit keeps the same 40 rows on every read
        df = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(40)
        kw = {}
    else:
        df, kw = three_files, {"partitions": 2}
    with caplog.at_level(logging.INFO, logger="paradump_spark"):
        assert_same_as_oracle(df, tmp_path, case, insertsize=7, **kw)
    rec = _framing_record(caplog)
    assert rec["path"] == "pinned"
    assert "Exchange" in rec["reason"]


def test_session_max_records_per_file_keeps_whole_statements(
    spark, three_files, tmp_path
):
    write_sql_inserts(three_files, "customer", str(tmp_path / "free"), insertsize=7)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "3")
    try:
        write_sql_inserts(three_files, "customer", str(tmp_path / "cut"), insertsize=7)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    cut = part_files(str(tmp_path / "cut"))
    assert cut == part_files(str(tmp_path / "free"))
    assert all(b.endswith(b");\n") for b in cut.values())


def test_input_grown_after_count_fails_loudly(spark, three_files, tmp_path, monkeypatch):
    """A row past its partition's count (the input changed between the
    count and the write) fails the write instead of leaving a statement
    unterminated."""
    monkeypatch.setattr(FILES, "_partition_counts", lambda df: [49, 49, 49])
    with pytest.raises(Exception, match="more rows than its count"):
        write_sql_inserts(three_files, "customer", str(tmp_path / "grown"))


def test_hadoop_zstd_probe_runs_once_per_context(monkeypatch):
    probes = []

    class Ctx:
        applicationId = "app-probe-once"

        @property
        def _jvm(self):
            probes.append(1)
            raise RuntimeError("no native zstd")

    class Session:
        sparkContext = Ctx()

    monkeypatch.setattr(FILES, "_HADOOP_ZSTD", {})
    assert FILES._hadoop_zstd_available(Session()) is False
    assert FILES._hadoop_zstd_available(Session()) is False
    assert len(probes) == 1
