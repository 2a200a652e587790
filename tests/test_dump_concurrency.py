"""dump_tables keeps a few table pipelines in flight: the same files as
one table at a time, results largest first, the caller's job group and
tags on every job, and the error rule (no queued table starts after a
failure, the first failure in scheduling order is raised, no pool thread
is left)."""

import json
import logging
import os
import re
import sys
import threading
import time

import pytest
from pyspark.util import inheritable_thread_target

from paradump_spark import dump
from paradump_spark.catalog import ParquetCatalog, _path_size
from paradump_spark.dump import DumpOptions, dump_tables, verify_dump, write_manifest
from paradump_spark.operators.checksum import table_checksum
from paradump_spark.sinks.files import write_csv, write_sql_inserts

TABLES = ["customer", "events", "lineitem", "orders", "part"]


def _pool_threads():
    return [t for t in threading.enumerate() if t.name.startswith("paradump-table")]


def _part_files(path):
    """{(part index, suffix): bytes} of a dump directory: part file names
    carry the write job's id, which differs between runs."""
    out = {}
    for name in os.listdir(path):
        m = re.fullmatch(r"part-(\d+)-[^.]*(\..*)?", name)
        if m and not name.endswith(".crc"):
            with open(os.path.join(path, name), "rb") as fh:
                out[(int(m[1]), m[2])] = fh.read()
    return out


@pytest.mark.parametrize("opts", [
    DumpOptions(mode="sql", compression="zstd"),
    DumpOptions(mode="sql", dialect="postgres"),
    DumpOptions(mode="csv_exact"),
], ids=["sql_zstd", "sql_postgres", "csv_exact"])
def test_files_match_one_table_at_a_time(spark, sf_dir, tmp_path, opts):
    cat = ParquetCatalog(spark, sf_dir)
    res = dump_tables(cat, str(tmp_path / "all"), TABLES, opts)
    assert [r.table for r in res] == sorted(
        TABLES, key=lambda t: _path_size(cat.path(t)), reverse=True
    )
    for r in res:
        df = cat.load(r.table)
        alone = str(tmp_path / "alone" / r.table)
        if opts.mode == "sql":
            rows = write_sql_inserts(
                df, r.table, alone, meta=cat.meta(r.table, df), dialect=opts.dialect,
                compression=opts.compression,
            )
            assert r.rows == rows
        else:
            write_csv(df, alone, meta=cat.meta(r.table, df), exact=True)
        files = _part_files(r.path)
        assert files and files == _part_files(alone), r.table


def test_jobs_carry_the_callers_group_and_tags(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId(): jobs.apply(i) for i in range(jobs.size())}

    before = set(job_ids())
    sc.setJobGroup("dump_in_flight", "caller's description")
    spark.addTag("dump_in_flight_tag")
    try:
        res = dump_tables(ParquetCatalog(spark, sf_dir), str(tmp_path), TABLES,
                          DumpOptions(mode="sql"))
    finally:
        spark.removeTag("dump_in_flight_tag")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(res) == len(TABLES)
    new = [j for i, j in job_ids().items() if i not in before]
    # per table: a schema job, a count job and the framed write
    assert len(new) == 3 * len(TABLES)
    for j in new:
        assert j.jobGroup().get() == "dump_in_flight"
        tags = [j.jobTags().apply(k) for k in range(j.jobTags().size())]
        # Spark puts a session's tags on the jobs of SQL executions; the
        # schema inference of ``spark.read.parquet`` may run outside one
        # and then has none, from the caller's thread too
        if not (j.name().startswith("parquet at ") and tags == []):
            assert any(t.endswith("-dump_in_flight_tag") for t in tags), tags


def test_first_failure_raised_and_queue_not_started(spark, sf_dir, tmp_path, monkeypatch):
    """The two largest tables fail once every table in flight has
    started, the second at once and the first a little later: the
    first one's error is raised, the other tables in flight finish, and
    no table queued behind them starts."""
    cat = ParquetCatalog(spark, sf_dir)
    names = sorted(cat.list_tables(), key=lambda t: _path_size(cat.path(t)), reverse=True)
    width = dump._TABLES_IN_FLIGHT
    assert len(names) >= width + 2
    first, second = names[:2]
    in_flight = threading.Barrier(width, timeout=30)
    started, finished = [], []
    load = cat.load

    def fake_load(table):
        started.append(table)
        in_flight.wait()
        if table in (first, second):
            time.sleep(0.2 if table == first else 0)
            raise RuntimeError(f"cannot read {table}")
        time.sleep(0.5)  # still in flight when the failures land
        finished.append(table)
        return load(table)

    monkeypatch.setattr(cat, "load", fake_load)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match=f"cannot read {first}$"):
        dump_tables(cat, str(tmp_path), options=DumpOptions(mode="sql"))
    assert sorted(started) == sorted(names[:width])
    assert sorted(finished) == sorted(names[2:width])
    assert sorted(os.listdir(tmp_path)) == sorted(names[2:width])
    assert _pool_threads() == []
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= before


def test_leaves_nothing_cached(spark, sf_dir, tmp_path):
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    was_empty = cache.isEmpty()
    dump_tables(ParquetCatalog(spark, sf_dir), str(tmp_path), TABLES,
                DumpOptions(mode="sql", compression="zstd"))
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= before
    assert cache.isEmpty() == was_empty
    assert _pool_threads() == []


def test_decision_record(spark, sf_dir, tmp_path, caplog):
    cat = ParquetCatalog(spark, sf_dir)
    with caplog.at_level(logging.INFO, logger="paradump_spark"):
        dump_tables(cat, str(tmp_path / "many"), TABLES, DumpOptions(mode="nul"))
        dump_tables(cat, str(tmp_path / "one"), ["nation"], DumpOptions(mode="nul"))
    records = [r for r in caplog.records if r.msg.startswith("dump tables in flight")]
    width = min(len(TABLES), dump._TABLES_IN_FLIGHT)
    assert [(r.args["chosen"], r.args["tables"], r.args["width"]) for r in records] == [
        ("concurrent", len(TABLES), width), ("serial", 1, 1),
    ]
    assert records[0].getMessage() == (
        f"dump tables in flight concurrent: largest first, at most "
        f"{dump._TABLES_IN_FLIGHT} table pipelines at once "
        f"(tables={len(TABLES)}, width={width})"
    )


def test_manifest_matches_one_table_at_a_time(spark, sf_dir, tmp_path):
    """write_manifest's checksums run in flight; the file is byte for
    byte the one a serial loop writes, and verify_dump returns the same
    dict, in manifest order."""
    cat = ParquetCatalog(spark, sf_dir)
    res = dump_tables(cat, str(tmp_path), TABLES, DumpOptions(mode="nul"))
    entries = {}
    for r in res:
        row = table_checksum(cat.load(r.table)).collect()[0]
        entries[r.table] = {"mode": r.mode, "path": r.path,
                            "n_rows": int(row["n_rows"]), "hash_sum": str(row["hash_sum"])}
    serial = json.dumps(entries, indent=2, sort_keys=True)
    with open(write_manifest(cat, str(tmp_path), res)) as fh:
        assert fh.read() == serial
    mpath = str(tmp_path / "_manifest.json")
    got = verify_dump(cat, mpath)
    assert list(got.items()) == [(t, True) for t in sorted(TABLES)]
    assert _pool_threads() == []


def test_in_flight_stress(spark, monkeypatch):
    """More pool threads than cores and a short switch interval: every
    item runs once, and the results come back in item order."""
    monkeypatch.setattr(dump, "_TABLES_IN_FLIGHT", 8)
    calls = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(10):
            got = dump._in_flight(spark, lambda i: calls.append(i) or i * i, list(range(40)))
            assert got == [i * i for i in range(40)]
    finally:
        sys.setswitchinterval(old)
    assert sorted(calls) == sorted(list(range(40)) * 10)
    assert _pool_threads() == []


def test_dropped_tags_fail_the_suite():
    """pyproject.toml turns pyspark's warning for a thread target wrapped
    without the session into an error."""
    with pytest.raises(UserWarning, match="Tags will not be inherited"):
        inheritable_thread_target(lambda: None)
