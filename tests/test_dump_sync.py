"""Top-level dump/sync orchestration tests (paradump/parasync entry
semantics) and fake-PK promotion."""

import glob
import sqlite3

import pytest
from pyspark.sql import functions as F

from paradump_spark import sync as SYNC
from paradump_spark.catalog import TESTDATA_PRIMARY_KEYS, ParquetCatalog
from paradump_spark.dump import DumpOptions, dump_tables
from paradump_spark.sources.jdbc import guess_primary_key
from paradump_spark.sync import SyncOptions, apply_syncs, sync_report, sync_tables
from tools.jobstats import job_group

_SQLITE_TYPES = {"bigint": "INTEGER", "int": "INTEGER", "double": "REAL", "string": "TEXT"}


@pytest.fixture()
def catalog(spark, sf_dir):
    return ParquetCatalog(spark, sf_dir)


def perturbed_destination(spark, cat, tmp_path, tables):
    """A destination that differs from ``cat`` on ``tables`` (each keyed
    by its first column, with an ``*_acctbal`` column): every 10th key is
    missing (an INSERT), every 7th of the rest has a changed balance (an
    UPDATE), every 13th is copied under key + 1e6 (a DELETE).  The same
    rows go to a parquet catalog, the diff's destination side, and to a
    sqlite DB, where the DML lands.

    Returns (catalog, sqlite path, {table: columns}, {table: expected
    report {action: cnt}})."""
    db = str(tmp_path / "dst.db")
    con = sqlite3.connect(db)
    columns, report = {}, {}
    for t in tables:
        src = cat.load(t)
        key = TESTDATA_PRIMARY_KEYS[t][0]
        bal = next(c for c in src.columns if c.endswith("acctbal"))
        k = F.col(key)
        dst = src.where(k % 10 != 0).withColumn(
            bal, F.when(k % 7 == 0, F.col(bal) + 100.0).otherwise(F.col(bal))
        ).unionByName(src.where(k % 13 == 0).withColumn(key, k + 1_000_000))
        dst.coalesce(1).write.parquet(str(tmp_path / "dstcat" / f"{t}.parquet"))
        ddl = ", ".join(
            f"{f.name} {_SQLITE_TYPES[f.dataType.simpleString()]}"
            + (" PRIMARY KEY" if f.name == key else "")
            for f in src.schema.fields
        )
        con.execute(f"CREATE TABLE {t} ({ddl})")
        con.executemany(
            f"INSERT INTO {t} VALUES ({', '.join('?' * len(src.columns))})",
            [tuple(r) for r in dst.collect()],
        )
        columns[t] = src.columns
        keys = [r[0] for r in src.select(key).collect()]
        ins = sum(1 for v in keys if v % 10 == 0)
        upd = sum(1 for v in keys if v % 7 == 0 and v % 10 != 0)
        report[t] = {"Insert": ins, "Update": upd,
                     "Delete": sum(1 for v in keys if v % 13 == 0),
                     "NoOp": len(keys) - ins - upd}
    con.commit()
    con.close()
    return ParquetCatalog(spark, str(tmp_path / "dstcat")), db, columns, report


def assert_converged(cat, db, tables):
    con = sqlite3.connect(db)
    for t in tables:
        key = TESTDATA_PRIMARY_KEYS[t][0]
        got = con.execute(f"SELECT * FROM {t} ORDER BY {key}").fetchall()
        assert got == sorted(tuple(r) for r in cat.load(t).collect()), t
    con.close()


def test_dump_sql_mode(catalog, tmp_path):
    res = dump_tables(
        catalog,
        str(tmp_path),
        tables=["region", "nation"],
        options=DumpOptions(mode="sql", insertsize=10),
    )
    # largest-first scheduling: nation (25 rows) before region (5)
    assert [r.table for r in res] == ["nation", "region"]
    txt = "".join(
        open(f).read() for f in glob.glob(str(tmp_path / "nation" / "part-*"))
    )
    assert txt.count("INSERT INTO `nation`") == 3  # 25 rows / 10


def test_dump_sql_rows_come_from_the_framing_counts(catalog, spark, tmp_path):
    """sql mode fills DumpResult.rows from write_sql_inserts' partition
    counts: count_rows=True runs no extra job."""
    catalog.load("nation")  # both calls then reuse the inferred schema
    jobs = {}
    for count_rows in (False, True):
        with job_group(spark, f"dump_rows_{count_rows}") as jg:
            (res,) = dump_tables(
                catalog, str(tmp_path / str(count_rows)), tables=["nation"],
                options=DumpOptions(mode="sql", count_rows=count_rows),
            )
        assert res.rows == 25
        jobs[count_rows] = jg.stats["jobs"]
    assert jobs[True] == jobs[False]


def test_dump_mode_validation(catalog, tmp_path):
    with pytest.raises(ValueError):
        dump_tables(catalog, str(tmp_path), options=DumpOptions(mode="bogus"))


def test_dump_excludes(catalog, tmp_path):
    res = dump_tables(
        catalog,
        str(tmp_path),
        options=DumpOptions(mode="nul", excludes=["lineitem", "orders", "events",
                                                  "documents", "embeddings", "part",
                                                  "customer", "supplier"]),
    )
    assert sorted(r.table for r in res) == ["nation", "region"]


def test_dump_csv_and_parquet(catalog, spark, tmp_path):
    dump_tables(
        catalog, str(tmp_path), tables=["region"], options=DumpOptions(mode="parquet")
    )
    back = spark.read.parquet(str(tmp_path / "region"))
    assert back.count() == 5


def test_sync_noop_reports_zero_dml(spark, sf_dir, catalog):
    """Reference invariant: no-op sync reports zero writes
    (/root/reference/test/run_test_sync.sh:111)."""
    syncs = sync_tables(catalog, catalog, tables=["customer", "orders"])
    rep = {
        (r["table"], r["action"]): r["cnt"]
        for r in sync_report(syncs).collect()
    }
    assert rep == {("customer", "NoOp"): 150, ("orders", "NoOp"): 1500}


def test_sync_apply_converges_sqlite(spark, sf_dir, catalog, tmp_path):
    cust = catalog.load("customer")
    db = str(tmp_path / "dst.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE customer (c_custkey INTEGER PRIMARY KEY, c_name TEXT,"
        " c_nationkey INTEGER, c_acctbal REAL, c_mktsegment TEXT)"
    )
    dst_rows = [tuple(r) for r in cust.where(F.col("c_custkey") % 2 == 0).collect()]
    con.executemany("INSERT INTO customer VALUES (?,?,?,?,?)", dst_rows)
    con.commit()
    con.close()

    # destination catalog = parquet snapshot of the sqlite state
    dst_dir = tmp_path / "dstcat"
    spark.createDataFrame(dst_rows, cust.schema).coalesce(1).write.parquet(
        str(dst_dir / "customer.parquet")
    )
    dst_cat = ParquetCatalog(spark, str(dst_dir))

    syncs = sync_tables(catalog, dst_cat, tables=["customer"])
    [s] = syncs
    apply_syncs(
        [s],
        lambda: sqlite3.connect(db),
        columns={"customer": list(cust.columns)},
        quote='"',
    )
    got = sqlite3.connect(db).execute(
        "SELECT * FROM customer ORDER BY c_custkey"
    ).fetchall()
    assert got == sorted(tuple(r) for r in cust.collect())


def test_sync_report_then_apply_reads_the_disk_pin(spark, catalog, tmp_path,
                                                   monkeypatch):
    """sync_tables pins each classified frame on disk.  The report's
    collect runs the join and writes the blocks; apply_syncs' input then
    reads them back: its executed plan has no file scan, no exchange and
    no join.  Nothing enters the session's CacheManager."""
    dst_cat, db, columns, report = perturbed_destination(
        spark, catalog, tmp_path, ["customer"]
    )
    [s] = sync_tables(catalog, dst_cat, tables=["customer"])
    pinned = s.classified._jdf.queryExecution().analyzed().rdd()
    level = pinned.getStorageLevel()
    assert level.useDisk() and not level.useMemory()

    rep = {r["action"]: r["cnt"] for r in sync_report([s]).collect()}
    assert rep == report["customer"]
    [info] = [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
              if i.id() == pinned.id()]
    assert info.numCachedPartitions() == info.numPartitions() > 0
    assert info.diskSize() > 0 and info.memSize() == 0

    inputs = []
    apply_diff = SYNC.apply_diff
    monkeypatch.setattr(
        SYNC, "apply_diff", lambda df, *a, **kw: (inputs.append(df), apply_diff(df, *a, **kw))
    )
    with job_group(spark, "sync_apply_after_report") as jg:
        apply_syncs([s], lambda: sqlite3.connect(db), columns, quote='"')
    [df] = inputs
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("FileScan", "Exchange", "Join"):
        assert node not in plan, plan
    assert jg.stats["file_scans"] == 0 and jg.stats["shuffle_write"] == 0
    assert_converged(catalog, db, ["customer"])
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_db_sync_apply_converges_sqlite_with_one_scan_per_side(
    spark, catalog, sf_dir, tmp_path, capsys
):
    """``db-sync --apply``: the count by kind runs the join, the apply
    reads its pinned output, so the source parquet and the snapshot of
    the live table are each scanned once."""
    import sys

    from paradump_spark.cli import main

    _, db, columns, report = perturbed_destination(spark, catalog, tmp_path, ["customer"])
    (tmp_path / "sqlite_cli.py").write_text(
        f"import sqlite3\n\n\ndef conn():\n    return sqlite3.connect({db!r})\n"
    )
    argv = [
        "db-sync", "--reader", "sqlite_cli:conn", "--writer", "sqlite_cli:conn",
        "--table", "customer", "--source-parquet", f"{sf_dir}/customer.parquet",
        "--columns", ",".join(columns["customer"]), "--pk", "c_custkey",
        "--scratch", str(tmp_path),
    ]
    sys.path.insert(0, str(tmp_path))
    try:
        with job_group(spark, "db_sync_apply") as jg:
            assert main(argv + ["--apply"]) == 0
        out = capsys.readouterr().out
        want = report["customer"]
        for kind, action in (("I", "Insert"), ("U", "Update"), ("D", "Delete")):
            assert f"{kind}={want[action]}" in out
        assert f"applied {want['Insert'] + want['Update'] + want['Delete']} changes" in out
        assert jg.stats["file_scans"] == 2  # source + snapshot, once each
        assert_converged(catalog, db, ["customer"])
        assert main(argv) == 0
        assert "customer converged" in capsys.readouterr().out
    finally:
        sys.path.remove(str(tmp_path))


def test_sync_skips_tables_without_pk(catalog):
    syncs = sync_tables(
        catalog, catalog, tables=["customer"], primary_keys={"customer": []}
    )
    assert syncs == []


def test_guess_primary_key_promotes_best_index():
    rows = [
        # (index_name, seq, column, cardinality, nullable)
        ("idx_a", 1, "col_x", 100, ""),
        ("idx_b", 1, "col_y", 5000, ""),
        ("idx_b", 2, "col_z", 9000, ""),
        ("idx_nullable", 1, "col_n", 99999, "YES"),
    ]
    pk = guess_primary_key(lambda sql: rows, "db", "t")
    assert pk == ["col_y", "col_z"]  # highest non-null cardinality


def test_guess_primary_key_no_usable_index():
    rows = [("idx_nullable", 1, "col_n", 99999, "YES")]
    assert guess_primary_key(lambda sql: rows, "db", "t") == []


def test_dump_manifest_round_trip_verifies(spark, sf_dir, tmp_path):
    """Manifest written at dump time verifies a faithful restore and
    flags a corrupted one."""
    from paradump_spark.catalog import ParquetCatalog
    from paradump_spark.dump import (
        DumpOptions,
        DumpResult,
        dump_tables,
        verify_dump,
        write_manifest,
    )

    cat = ParquetCatalog(spark, sf_dir)
    out = str(tmp_path / "dump")
    tables = ["nation", "region", "embeddings"]
    results = dump_tables(cat, out, tables, DumpOptions(mode="csv"))
    mpath = write_manifest(cat, out, results)

    ok = verify_dump(cat, mpath)  # source verifies against itself
    assert ok == {"nation": True, "region": True, "embeddings": True}

    # the native csv writer takes the array column as its cast text
    # ("[0.1, -0.2]"), which parses back to the source vectors
    (emb,) = [r for r in results if r.table == "embeddings"]
    back = spark.read.schema("vec_id long, embedding string, label int").csv(
        emb.path, nullValue="\\N", quote='"', escape='"'
    )
    got = {
        r.vec_id: r.v
        for r in back.select(
            "vec_id", F.from_json("embedding", "array<float>").alias("v")
        ).collect()
    }
    src = {r.vec_id: r.embedding for r in cat.load("embeddings").collect()}
    assert got == src

    # corrupted restore: nation with a mutated row
    baddir = str(tmp_path / "restored")
    spark.read.parquet(f"{sf_dir}/nation.parquet").withColumn(
        "n_regionkey", F.col("n_regionkey") + 1
    ).write.parquet(f"{baddir}/nation.parquet")
    for t in ("region", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.parquet(
            f"{baddir}/{t}.parquet"
        )
    bad = verify_dump(ParquetCatalog(spark, baddir), mpath)
    assert bad == {"nation": False, "region": True, "embeddings": True}


def test_checksum_columns_survive_copy(spark, tmp_path):
    """SURVEY §5 cross-engine checksum concept (test/run_test.sh:412-478,
    :785-794): rows carry precomputed hashes of their own payloads; after
    a copy the destination bytes must recompute to the same hashes —
    catching charset/binary mangling in transit.  Here: Spark fixture →
    copy_table → sqlite → recompute both DBAPI-side and Spark-side."""
    import hashlib
    import sqlite3 as sq

    from paradump_spark.sinks.dml import copy_table

    rows = [
        (1, "plain", b"\x00\x01\xff"),
        (2, "with'quote\" and,comma", bytes(range(16))),
        (3, "multi\nline\ttab", b""),
        (4, "unicodé ✓ ♥", b"\xed\xa0\x80\xff"),
    ]
    data = [
        (i, t, b, hashlib.sha256(t.encode("utf-8")).hexdigest(), b.hex())
        for i, t, b in rows
    ]
    schema = (
        "id long, label string, payload binary,"
        " label_sha256 string, payload_hex string"
    )
    df = spark.createDataFrame(data, schema)
    db = str(tmp_path / "cc.db")
    con = sq.connect(db)
    con.execute(
        "CREATE TABLE t (id INTEGER PRIMARY KEY, label TEXT, payload BLOB,"
        " label_sha256 TEXT, payload_hex TEXT)"
    )
    con.commit()
    con.close()
    copy_table(df, lambda: sq.connect(db), "t", quote='"')

    got = sq.connect(db).execute(
        "SELECT id, label, payload, label_sha256, payload_hex FROM t ORDER BY id"
    ).fetchall()
    assert len(got) == len(rows)
    for _id, label, payload, lsha, phex in got:
        assert hashlib.sha256(label.encode("utf-8")).hexdigest() == lsha
        assert bytes(payload or b"").hex() == phex

    # Spark-side recompute over the destination rows (the engine's own
    # hash functions must agree with the carried columns)
    rdf = spark.createDataFrame(
        [(i, l, bytes(p or b""), s, h) for i, l, p, s, h in got], schema
    )
    chk = rdf.select(
        (F.sha2(F.col("label").cast("binary"), 256) == F.col("label_sha256")).alias("a"),
        (F.lower(F.hex("payload")) == F.col("payload_hex")).alias("b"),
    ).collect()
    assert all(r["a"] and r["b"] for r in chk)
