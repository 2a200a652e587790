"""Exact Spark job counts of whole operator calls.

Job and file-scan stage counts repeat exactly from run to run and do not
move with host load, so a change that runs a join or a scan
one more time fails here on any host, where a wall-clock bench could not
tell.  Counts are for the sf0.001 catalog on the test session (local[4],
8 shuffle partitions, AQE on: every shuffle stage is a job of its own).
When a change moves a count on purpose, update it here and say why.
"""

import sqlite3

from paradump_spark.catalog import ParquetCatalog
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
    17 jobs and 8 file scans."""
    cat = ParquetCatalog(spark, sf_dir)
    dst_cat, db, columns, report = perturbed_destination(spark, cat, tmp_path, SYNC_TABLES)
    with job_group(spark, "sync_budget") as jg:
        syncs = sync_tables(cat, dst_cat, tables=SYNC_TABLES)
        rows = sync_report(syncs).collect()
        apply_syncs(syncs, lambda: sqlite3.connect(db), columns, quote='"')
    assert {(r["table"], r["action"]): r["cnt"] for r in rows} == {
        (t, a): n for t, rep in report.items() for a, n in rep.items() if n
    }
    assert_converged(cat, db, SYNC_TABLES)
    assert jg.stats["file_scans"] == 2 * len(SYNC_TABLES)
    assert jg.stats["jobs"] == 13
