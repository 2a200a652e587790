"""Exact Spark job counts of whole operator calls.

Job and file-scan stage counts repeat exactly from run to run and do not
move with host load, so a change that runs a join or a scan
one more time fails here on any host, where a wall-clock bench could not
tell.  Counts are for the sf0.001 catalog on the test session (local[4],
8 shuffle partitions, AQE on: every shuffle stage is a job of its own).
When a change moves a count on purpose, update it here and say why.
"""

import shutil
import sqlite3

from paradump_spark.catalog import ParquetCatalog
from paradump_spark.dump import DumpOptions, dump_tables
from paradump_spark.sync import apply_syncs, sync_report, sync_tables
from tests.test_dump_sync import assert_converged, perturbed_destination
from tools.jobstats import job_group

SYNC_TABLES = ["customer", "supplier"]


def test_sync_job_budget(spark, sf_dir, tmp_path):
    """sync_tables + sync_report().collect() + apply_syncs over two
    tables: each table's two sides are scanned once and its join runs
    once.  Per table: 2 parquet schema jobs (one per side's load), 2
    map-stage jobs for the join's inputs (run by the pin, inside
    sync_tables), 1 join + partial-count job for the report and 1 apply
    job; the report's final aggregation over the union is 1 more:
    2 x 6 + 1 = 13.  Without the pin the apply runs each join again:
    17 jobs and 8 file scans.

    The same three calls again on the same catalogs: the catalogs kept
    each side's inferred schema, so the 4 schema jobs go and 9 remain,
    as in every steady pass of a long-lived process."""
    dst_cat, db, columns, report = perturbed_destination(
        spark, ParquetCatalog(spark, sf_dir), tmp_path, SYNC_TABLES
    )
    cat = ParquetCatalog(spark, sf_dir)  # no schema inferred yet
    db_again = str(tmp_path / "dst_again.db")
    shutil.copy(db, db_again)
    expected = {(t, a): n for t, rep in report.items() for a, n in rep.items() if n}
    for group, target, jobs in (("sync_budget", db, 13), ("sync_budget_again", db_again, 9)):
        with job_group(spark, group) as jg:
            syncs = sync_tables(cat, dst_cat, tables=SYNC_TABLES)
            rows = sync_report(syncs).collect()
            apply_syncs(syncs, lambda t=target: sqlite3.connect(t), columns, quote='"')
        assert {(r["table"], r["action"]): r["cnt"] for r in rows} == expected
        assert_converged(cat, target, SYNC_TABLES)
        assert jg.stats["file_scans"] == 2 * len(SYNC_TABLES)
        assert (group, jg.stats["jobs"]) == (group, jobs)


def test_dump_job_budget(spark, sf_dir, tmp_path):
    """dump_tables(mode="sql", compression="zstd") over two tables: per
    table 1 parquet schema job, 1 per-partition count job and 1 framed
    write = 6.  A second call on the same catalog reuses both inferred
    schemas: 2 fewer."""
    cat = ParquetCatalog(spark, sf_dir)
    opts = DumpOptions(mode="sql", compression="zstd")
    counts = []
    for i in range(2):
        with job_group(spark, f"dump_budget_{i}") as jg:
            res = dump_tables(cat, str(tmp_path / f"out{i}"), ["customer", "supplier"], opts)
        assert {r.table: r.rows for r in res} == {
            t: cat.load(t).count() for t in ("customer", "supplier")
        }
        counts.append(jg.stats["jobs"])
    assert counts == [6, 4]


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    """The schema memo is keyed by the table's file listing: rewriting
    the files re-infers, so a new column shows."""
    cat = ParquetCatalog(spark, str(tmp_path))
    path = cat.path("t")
    spark.range(3).write.parquet(path)
    jobs = []
    for i in range(2):
        with job_group(spark, f"memo_{i}") as jg:
            assert cat.load("t").columns == ["id"]
        jobs.append(jg.stats["jobs"])
    assert jobs == [1, 0]  # one schema job, then none
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(path)
    assert cat.load("t").columns == ["id", "twice"]
    assert sorted(r.twice for r in cat.load("t").collect()) == [0, 2, 4]


def test_cli_sync_report_pins_nothing(spark, sf_dir, tmp_path, capsys):
    """The CLI ``sync`` verb only reports, reading each table's diff once,
    so it leaves no disk-pinned (checkpointed) RDD behind."""
    from paradump_spark.cli import main

    dst_cat, _db, _columns, report = perturbed_destination(
        spark, ParquetCatalog(spark, sf_dir), tmp_path, SYNC_TABLES
    )
    stats = tmp_path / "stats.csv"
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    argv = ["sync", "--src", sf_dir, "--dst", dst_cat.root, "--statsfile", str(stats)]
    for t in SYNC_TABLES:
        argv += ["--table", t]
    assert main(argv) == 0
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= before
    got = {}
    for line in stats.read_text().splitlines():
        table, _phase, action, cnt = line.split(",")
        got[(table, action)] = int(cnt)
    assert got == {(t, a): n for t, rep in report.items() for a, n in rep.items() if n}
    assert capsys.readouterr().out.count("\n") == len(got)
