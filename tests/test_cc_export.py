"""Connected components + single-transaction export."""

import sqlite3

from pyspark.sql import functions as F

from paradump_spark.operators.dedup import (
    connected_components,
    dedup_minhash_cc,
)
from paradump_spark.sources.jdbc import single_tx_export


def test_connected_components_chain_and_singleton(spark):
    # chain 1-2-3, pair 10-11, singleton 99 (via vertices)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    verts = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (99,)], "id bigint")
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_transitive_star(spark):
    # star around 5 plus a bridge making one big component
    edges = spark.createDataFrame(
        [(5, 6), (5, 7), (7, 8), (8, 2)], "id_a bigint, id_b bigint"
    )
    got = {
        r["id"]: r["component"] for r in connected_components(edges).collect()
    }
    assert set(got.values()) == {2}


def test_dedup_minhash_cc_closes_chains(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).where(F.col("doc_id") < 30)
    # A (orig), B = A + ' x', C = B + ' y' -> A~B, B~C likely; CC keeps only A
    b = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" xq")).alias("text"),
    )
    c = docs.select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat("text", F.lit(" xq yq")).alias("text"),
    )
    base = docs.unionAll(b).unionAll(c)
    kept = dedup_minhash_cc(base, "doc_id", "text", threshold=0.7)
    # every chained copy collapses into its original's component (A~B and
    # B~C edges close transitively), so only low-id cluster reps survive
    assert kept.where(F.col("doc_id") >= 1000).count() == 0
    # originals may also dedup among themselves (word-soup data has
    # natural near-dups) but most survive
    assert kept.count() >= 25


def test_single_tx_export_roundtrip(spark, tmp_path):
    db = str(tmp_path / "s.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER, name TEXT, v REAL)")
    rows = [(i, f"n{i}", i * 1.5) for i in range(1000)]
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    con.commit()
    con.close()
    out = str(tmp_path / "t.parquet")
    n = single_tx_export(lambda: sqlite3.connect(db), "t", out, batch_rows=128)
    assert n == 1000
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert sorted(tuple(r) for r in back.collect()) == rows


def test_single_tx_export_empty_table(spark, tmp_path):
    db = str(tmp_path / "s.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE e (id INTEGER, name TEXT)")
    con.commit()
    con.close()
    out = str(tmp_path / "e.parquet")
    assert single_tx_export(lambda: sqlite3.connect(db), "e", out) == 0
    assert spark.read.parquet(out).count() == 0


def test_connected_components_driver_path_equals_distributed(spark):
    """Round-11 small-graph escape: the bounded driver union-find must
    return exactly the distributed star rounds' labeling (including
    vertices-only ids and string ids)."""
    import random

    rng = random.Random(7)
    edges_py = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ] + [(300, 300), (5, 5)]
    edges = spark.createDataFrame(edges_py, "id_a bigint, id_b bigint")
    verts = spark.createDataFrame([(999,), (3,)], "id bigint")
    rounds_a, rounds_b = [], []
    via_driver = {
        (r["id"], r["component"])
        for r in connected_components(
            edges, verts, _rounds_out=rounds_a
        ).collect()
    }
    via_stars = {
        (r["id"], r["component"])
        for r in connected_components(
            edges, verts, _rounds_out=rounds_b, driver_edge_cap=0
        ).collect()
    }
    assert rounds_a == [0]  # took the driver escape
    assert rounds_b and rounds_b[0] >= 1  # took the star rounds
    assert via_driver == via_stars

    # vertices=None (the local-frame branch the media pipelines use),
    # null ids on either side of an edge, self-loops
    odd = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (4, 4), (3, 5), (None, None), (6, 6),
         (6, 7)],
        "id_a bigint, id_b bigint",
    )
    rounds_a, rounds_b = [], []
    local = connected_components(odd, _rounds_out=rounds_a).collect()
    stars = connected_components(
        odd, _rounds_out=rounds_b, driver_edge_cap=0
    ).collect()
    assert rounds_a == [0] and rounds_b[0] >= 1
    assert len(local) == len(stars) == 8  # one row per distinct id
    key = lambda r: (r["id"] is None, r["id"] or 0)  # noqa: E731
    assert sorted(local, key=key) == sorted(stars, key=key)

    s_edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(s_edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_over_cap_releases_edge_cache(spark):
    """Over the driver cap the edge pin is persisted for the vertex set
    and round 1; once those are checkpointed it must be released, so a
    collected result leaves the session's cache empty."""
    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, driver_edge_cap=0).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
