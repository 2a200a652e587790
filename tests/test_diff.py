"""Diff-operator invariants, mirroring the reference's sync tests:
no-op sync reports zero (/root/reference/test/run_test_sync.sh:111) and a
perturbed destination converges."""

from pyspark.sql import functions as F

from paradump_spark.operators.diff import (
    DML_DELETE,
    DML_INSERT,
    DML_UPDATE,
    diff_classified,
    diff_stats,
    diff_tables,
)
from tools.jobstats import job_group


def _perturb(cust):
    changed = cust.where(F.col("c_custkey") % 10 != 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    extra = cust.where(F.col("c_custkey") % 13 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    return changed.unionAll(extra)


def test_identical_inputs_diff_empty(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert diff_classified(cust, cust, ["c_custkey"]).count() == 0


def test_perturbed_classification_counts(spark, sf_dir):
    """Counts per class, in one action: the full-outer join runs once.
    AQE is off for the call because it makes every shuffle stage a job of
    its own; without it, one action is exactly one job."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    res = diff_tables(cust, _perturb(cust), ["c_custkey"])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with job_group(spark, "diff_counts"):
            counts = res.counts()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup("diff_counts")) == 1
    keys = [r["c_custkey"] for r in cust.select("c_custkey").collect()]
    exp_ins = sum(1 for k in keys if k % 10 == 0)
    exp_del = sum(1 for k in keys if k % 13 == 0)
    exp_upd = sum(1 for k in keys if k % 7 == 0 and k % 10 != 0)
    assert counts[DML_INSERT] == exp_ins
    assert counts[DML_DELETE] == exp_del
    assert counts[DML_UPDATE] == exp_upd


def test_applying_diff_converges(spark, sf_dir):
    """INSERTs ∪ UPDATEs ∪ (dst − DELETEs − UPDATEs) == src — the sync
    convergence property."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dst = _perturb(cust)
    res = diff_tables(cust, dst, ["c_custkey"])
    del_keys = res.deletes.select("c_custkey")
    upd_keys = res.updates.select("c_custkey")
    remaining = dst.join(del_keys, "c_custkey", "left_anti").join(
        upd_keys, "c_custkey", "left_anti"
    )
    converged = remaining.unionByName(res.inserts).unionByName(res.updates)
    assert converged.exceptAll(cust).count() == 0
    assert cust.exceptAll(converged).count() == 0


def test_update_to_null_carries_null(spark):
    src = spark.createDataFrame([(1, None)], "id bigint, v string")
    dst = spark.createDataFrame([(1, "old")], "id bigint, v string")
    [row] = diff_classified(src, dst, ["id"]).collect()
    assert row["dmltype"] == DML_UPDATE and row["v"] is None


def test_all_null_pk_rows_classify_by_presence(spark):
    src = spark.createDataFrame([(None, "a")], "id bigint, v string")
    dst = spark.createDataFrame([], "id bigint, v string")
    [row] = diff_classified(src, dst, ["id"]).collect()
    assert row["dmltype"] == DML_INSERT


def test_keep_noops_and_stats(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cl = diff_classified(cust, cust, ["c_custkey"], keep_noops=True)
    stats = {r["action"]: r["cnt"] for r in diff_stats(cl, "c").collect()}
    assert stats == {"NoOp": cust.count()}


def test_schema_drift_and_common_payload_diff(spark, sf_dir):
    """Drift report + diffing only the common columns across a migration."""
    from paradump_spark.operators.diff import diff_classified, schema_drift

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    migrated = cust.drop("c_mktsegment").withColumn(
        "c_tier", (F.col("c_custkey") % 3).cast("int")
    )
    drift = schema_drift(cust, migrated)
    assert drift["only_src"] == ["c_mktsegment"]
    assert drift["only_dst"] == ["c_tier"]
    assert drift["type_mismatch"] == []
    assert "c_acctbal" in drift["common"]

    payload = [c for c in drift["common"] if c != "c_custkey"]
    d = diff_classified(
        cust.select("c_custkey", *payload),
        migrated.select("c_custkey", *payload),
        ["c_custkey"],
    )
    assert d.count() == 0  # identical on the shared columns
