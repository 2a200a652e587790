"""Regression tests for the round-2 code-review findings."""

import glob
import sqlite3

import pytest
from pyspark.sql import functions as F

from paradump_spark.cli import main
from paradump_spark.operators.dedup import connected_components, dedup_exact
from paradump_spark.plans.skew import salted_join
from paradump_spark.plans.split import _lit, composite_range_sql
from paradump_spark.sinks.files import write_sql_inserts
from paradump_spark.sources.jdbc import JdbcSource, SnapshotMode, single_tx_export


def test_lit_escapes_backslashes():
    # a literal backslash in a string bound must render doubled, or MySQL
    # and Spark SQL (both backslash-escaping) evaluate a different boundary
    assert _lit("a\\nb") == "'a\\\\nb'"
    sql = composite_range_sql(["k"], ("a\\",), None)
    assert "'a\\\\'" in sql


def test_lit_backslash_roundtrip_spark_sql(spark):
    df = spark.createDataFrame([("a\\nb",), ("zzz",)], "k string")
    df.createOrReplaceTempView("bs_t")
    sql = composite_range_sql(["k"], ("a\\nb",), ("b",))
    assert spark.sql(f"SELECT count(*) c FROM bs_t WHERE {sql}").first()["c"] == 1


def test_dedup_exact_null_vs_position(spark):
    # ('a', NULL) and (NULL, 'a') are different content — both must survive
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (3, "a", None)],
        "id bigint, x string, y string",
    )
    kept = dedup_exact(df, ["x", "y"], "id")
    assert sorted(r["id"] for r in kept.collect()) == [1, 2]


def test_connected_components_raises_on_non_convergence(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 0, -1)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, driver_edge_cap=0)


def test_cli_sync_exclude_is_honored(spark, sf_dir, tmp_path, capsys):
    rc = main(
        ["sync", "--src", sf_dir, "--dst", sf_dir,
         "--exclude", "region", "--table", "region", "--table", "nation"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "nation" in out and "region" not in out


def test_single_tx_export_all_null_first_batches(spark, tmp_path):
    db = str(tmp_path / "n.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER, v INTEGER)")
    # first 300 rows NULL in v (batch_rows=100 -> three all-null batches),
    # values appear only later
    con.executemany(
        "INSERT INTO t VALUES (?,?)",
        [(i, None) for i in range(300)] + [(i, i) for i in range(300, 400)],
    )
    con.commit()
    con.close()
    out = str(tmp_path / "t.parquet")
    n = single_tx_export(lambda: sqlite3.connect(db), "t", out, batch_rows=100)
    assert n == 400
    back = spark.read.parquet(out)
    assert back.where(F.col("v").isNotNull()).count() == 100


def test_single_tx_export_never_valued_column(spark, tmp_path):
    db = str(tmp_path / "n2.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER, v TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?)", [(i, None) for i in range(10)])
    con.commit()
    con.close()
    out = str(tmp_path / "t.parquet")
    assert single_tx_export(lambda: sqlite3.connect(db), "t", out) == 10
    back = spark.read.parquet(out)
    assert back.count() == 10  # all-null column falls back to string type


def test_sql_insert_identifier_quoting_per_dialect(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id bigint, name string")
    write_sql_inserts(df, "t", str(tmp_path / "pg"), dialect="postgres")
    txt = "".join(
        open(f).read() for f in glob.glob(str(tmp_path / "pg" / "part-*"))
    )
    assert 'INSERT INTO "t" ("id", "name")' in txt
    assert "`" not in txt
    assert "E'x'" in txt


def test_salted_join_rejects_full(spark):
    with pytest.raises(ValueError):
        salted_join(None, None, ["k"], how="full")


def test_snapshot_mode_enforced():
    single = JdbcSource("jdbc:mysql://h/db", {}, "mysql", SnapshotMode.SINGLE_TX)
    with pytest.raises(ValueError, match="single_tx_export"):
        single.reader_options()
    pg_no_id = JdbcSource(
        "jdbc:postgresql://h/db", {}, "postgres", SnapshotMode.PG_SNAPSHOT
    )
    with pytest.raises(ValueError, match="snapshot_id"):
        pg_no_id.reader_options()
    pg = JdbcSource(
        "jdbc:postgresql://h/db", {}, "postgres", SnapshotMode.PG_SNAPSHOT, "00A-1"
    )
    assert "SET TRANSACTION SNAPSHOT '00A-1'" in pg.reader_options()[
        "sessionInitStatement"
    ]


def test_load_events_nanos_conf_is_scoped(spark, tmp_path):
    """nanosAsLong is set only for the TIMESTAMP(NANOS) read, restored
    before returning (analysis captures it eagerly), and a later plain
    parquet read in the same session is unaffected."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    from paradump_spark.catalog import load_events

    p = str(tmp_path / "ev_nanos.parquet")
    papq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    np.array(
                        [1700000000_000_000_000, 1700000001_500_000_123],
                        dtype="int64",
                    ),
                    pa.timestamp("ns"),
                ),
            }
        ),
        p,
    )
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true"
    )
    df = load_events(spark, p)
    # restored immediately, NOT after the (lazy) action
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true"
    )
    rows = {r["event_id"]: r["ts"] for r in df.collect()}
    assert rows[1].isoformat() == "2023-11-14T22:13:20"
    assert rows[2].microsecond == 500000  # nanos floor-truncated to micros


def test_load_events_bare_int64_micros_not_divided(spark, tmp_path):
    """A genuine int64 epoch-MICROS column must not be divided by 1000:
    the magnitude probe distinguishes it from nanos."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from paradump_spark.catalog import load_events

    micros = 1700000000_000_000  # 2023-11-14, epoch micros (~1.7e15 < 1e17)
    p = str(tmp_path / "ev_micros.parquet")
    papq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([micros], pa.int64()),
            }
        ),
        p,
    )
    df = load_events(spark, p)
    assert df.collect()[0]["ts"].year == 2023

    nanos = 1700000000_000_000_000
    p2 = str(tmp_path / "ev_nanos_bare.parquet")
    papq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([nanos], pa.int64()),
            }
        ),
        p2,
    )
    df2 = load_events(spark, p2)
    assert df2.collect()[0]["ts"].year == 2023


def test_ivf_assign_empty_centroids_gives_null_cell(spark):
    """ADVICE r07: an empty centroid table raised TypeError in the old
    count()+first() probe; ivf_assign must instead label every row with
    a NULL cell_id (and probe_cells give no rows), with no exception.
    A table of NULL centroids behaves the same."""
    from paradump_spark.operators.similarity import ivf_assign, probe_cells

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, v array<float>"
    )
    empty = spark.createDataFrame([], "cell_id int, centroid array<float>")
    nulls = spark.createDataFrame(
        [(0, None)], "cell_id int, centroid array<float>"
    )
    for cents in (empty, nulls):
        out = ivf_assign(corpus, cents, "id", "v").collect()
        assert sorted(r["id"] for r in out) == [1, 2]
        assert all(r["cell_id"] is None for r in out)
        assert probe_cells(corpus, cents, "v", 2).count() == 0


def test_ivf_assign_auto_single_collect(spark):
    """ivf_assign runs ONE bounded collect of the centroid table for the
    kernel — no extra count()/first() jobs."""
    from unittest.mock import patch

    from paradump_spark.operators.similarity import ivf_assign

    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0] * 6) for i in range(50)],
        "id long, v array<float>",
    )
    cents = spark.createDataFrame(
        [(c, [float(c + 1)] * 18 + [0.0] * 0) for c in range(40)],
        "cell_id int, centroid array<float>",
    )
    calls = {"collect": 0, "count": 0, "first": 0}
    orig_collect = type(cents).collect
    with patch.object(
        type(cents), "collect",
        lambda self: (calls.__setitem__("collect", calls["collect"] + 1),
                      orig_collect(self))[1],
    ), patch.object(
        type(cents), "count",
        lambda self: (_ for _ in ()).throw(AssertionError("count() called")),
    ), patch.object(
        type(cents), "first",
        lambda self: (_ for _ in ()).throw(AssertionError("first() called")),
    ):
        out = ivf_assign(corpus, cents, "id", "v")
    assert calls["collect"] == 1
    assert out.where(F.col("cell_id").isNull()).count() == 0
