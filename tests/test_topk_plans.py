"""plans.topk.partial_topk: the skew-safe candidate cut shared by
group_top_k, brute_force_topk, ivf_*_topk and the PQ searches."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from paradump_spark.plans.topk import partial_topk, top_n


def test_partial_topk_is_superset_and_bounded(spark):
    rows = [("q1", i, float(i % 97)) for i in range(2000)] + [
        ("q2", i, float((i * 7) % 101)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "key string, id long, score double").repartition(8)
    order = [F.col("score").desc(), F.col("id").asc()]
    cut = partial_topk(df, ["key"], order, 10)
    n_parts = df.rdd.getNumPartitions()
    from collections import Counter

    per_key = Counter(r["key"] for r in cut.select("key").collect())
    assert all(n <= 10 * n_parts for n in per_key.values())
    w = Window.partitionBy("key").orderBy(*order)
    naive = {
        (r["key"], r["id"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .collect()
    }
    got = {
        (r["key"], r["id"])
        for r in cut.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .collect()
    }
    assert got == naive
    cut_ids = {(r["key"], r["id"]) for r in cut.collect()}
    assert naive <= cut_ids
    # top_n (the cut, then the bounded global rank) equals the naive
    # single window, ranks included
    for n in (1, 10):
        want = sorted(
            tuple(r)
            for r in df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= n)
            .collect()
        )
        assert sorted(tuple(r) for r in top_n(df, ["key"], order, n).collect()) == want


def test_ann_candidate_windows_are_two_stage(spark, sf_dir):
    """brute_force_topk / pq_adc_topk physical plans rank twice: the
    per-partition cut then the bounded global window — never a single
    global window over the whole scored product."""
    from paradump_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(3)
    top = brute_force_topk(emb, q, "vec_id", "embedding", k=5)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2
    # and the two-stage result equals the naive exact definition
    from paradump_spark.functions import vectors as V

    qn = q.select(F.col("vec_id").alias("query_id"), V.normalized(F.col("embedding")).alias("qv"))
    cn = emb.select(F.col("vec_id").alias("neighbor_id"), V.normalized(F.col("embedding")).alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    naive = (
        qn.crossJoin(cn)
        .select("query_id", "neighbor_id", V.dot(F.col("qv"), F.col("cv")).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank")
    )
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in top.collect()}
    exp = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in naive.collect()}
    assert got == exp


def test_pq_adc_topk_plan_has_partial_cut(spark, sf_dir):
    from paradump_spark.operators import pq as PQ

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = PQ.train_pq(emb, "vec_id", "embedding", m=8, ksub=16, train_cap=256)
    codes = PQ.pq_encode(emb, "embedding", books)
    out = PQ.pq_adc_topk(codes, emb.limit(2), books, "vec_id", "embedding", k=3, rescore=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # partial cut + global candidate rank + final exact rank
    assert plan.count("Window") >= 3
    assert out.count() == 6
