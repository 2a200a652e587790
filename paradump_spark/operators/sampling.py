"""Deterministic sampling and dataset-split operators for training-data
pipelines — beyond-reference LLM-pipeline surface.

A 100 TB corpus is never split by ``rand()``: re-runs must land every
document in the same split, late-arriving shards must not reshuffle old
assignments, and train/val leakage must be impossible by construction.
The standard trick is content-hash bucketing: ``bucket = H(id) mod D``,
split = first weight interval containing the bucket.  Everything here is
a pure per-row projection/filter — no shuffle, no state, fuses into the
scan — and the hash is md5-based so an external engine (the DuckDB
oracle, a feature store, a downstream trainer) can reproduce the exact
assignment with one SQL expression.

``sample_fraction`` / ``split_column`` / ``split`` are exact-deterministic;
``stratified_sample`` wraps Spark's ``sampleBy`` (seeded Bernoulli per
stratum) for when statistical rather than reproducible-by-id sampling is
wanted.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paradump_spark.plans.topk import partial_topk, top_n

#: Bucket modulus. 1e6 buckets keeps weight quantization error ≤ 1e-6.
DENOM = 1_000_000


def hash_bucket(col: Column, seed: str = "", denom: int = DENOM) -> Column:
    """Stable bucket in ``[0, denom)`` from a value's md5.

    15 hex digits = 60 bits through an exact BIGINT (no float rounding),
    identical in any engine with md5 — DuckDB spelling:
    ``('0x' || substr(md5(seed || coalesce(CAST(v AS VARCHAR),
    chr(0) || 'NULL')), 1, 15))::BIGINT % denom``.

    NULL ids hash as the sentinel ``\\x00NULL`` (not droppable as a real
    id text), so ``sample_fraction`` / ``split_column`` / ``mixture``
    all route NULL-id rows through the SAME deterministic bucket instead
    of silently dropping them (concat would propagate NULL) while
    ``split_column``'s otherwise() kept them — the operators now agree.
    """
    v = F.coalesce(col.cast("string"), F.lit("\x00NULL"))
    h = F.md5(F.concat(F.lit(seed), v))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % denom


def sample_fraction(
    df: DataFrame, id_col: str, fraction: float, seed: str = ""
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows keyed by ``id_col``.

    Unlike ``df.sample()`` this is stable across runs, partitionings, and
    engines: membership depends only on the id value (and ``seed``).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(hash_bucket(F.col(id_col), seed) < int(round(fraction * DENOM)))


def split_column(
    id_col: Column, weights: Mapping[str, float], seed: str = ""
) -> Column:
    """A ``split`` label column: the bucket falls into the half-open
    cumulative-weight interval of its split (insertion order of
    ``weights``).  Weights must sum to 1 (±1e-9)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = hash_bucket(id_col, seed)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < int(round(cum * DENOM))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def split(
    df: DataFrame, id_col: str, weights: Mapping[str, float], seed: str = ""
) -> dict[str, DataFrame]:
    """Partition ``df`` into named splits (e.g. train/val/test).

    Returns one filtered DataFrame per split; the union is exactly ``df``
    and the splits are disjoint, both by construction (half-open bucket
    intervals).  Each split is a filter over the same scan — Catalyst
    pushes it down; no shuffle, no materialization.
    """
    lab = split_column(F.col(id_col), weights, seed)
    return {name: df.where(lab == name) for name in weights}


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[object, float],
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``df.sampleBy``) — seeded but NOT
    id-stable; use :func:`sample_fraction` when reproducibility by key
    matters more than exact statistical independence."""
    return df.sampleBy(strata_col, dict(fractions), seed=seed)


def mixture(
    sources: Sequence[tuple[DataFrame, str, float]], seed: str = ""
) -> DataFrame:
    """Deterministic training mixture: for each ``(df, id_col, fraction)``
    take the hash-stable fraction and union the results (by column name).

    The standard "20% of crawl + 100% of curated + 5% of chat" mix; every
    source keeps its own keying column so ids only need uniqueness within
    a source.
    """
    if not sources:
        raise ValueError("mixture requires at least one (df, id_col, fraction) source")
    parts = [
        sample_fraction(df, id_col, frac, seed) for df, id_col, frac in sources
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def mixture_plan(
    df: DataFrame,
    source_col: str,
    text_col: str,
    weights: dict[str, float],
    token_budget: int,
    temperature: float = 1.0,
) -> DataFrame:
    """Turn target mixture weights + a token budget into per-source
    sampling fractions — the planning step in front of :func:`mixture`.

    For each source: ``target_tokens = budget · w/Σw``; ``fraction =
    target/available`` (may exceed 1 — that's epochs: repeat the source
    ``floor(fraction)`` times plus a ``fraction - floor`` partial pass).
    One aggregation over the corpus (token counts partial-combine
    map-side); the plan itself is one tiny row per source.

    Sources missing from ``weights`` get weight 0 (excluded); weights
    naming absent sources are ignored (their share is re-normalized away
    by Σw over PRESENT sources only — the conventional behavior when a
    configured source has no data yet).

    ``temperature`` applies multilingual-style smoothing BEFORE
    normalization: ``w ← w^(1/T)`` (Conneau & Lample 2019's α = 1/T).
    T=1 keeps the weights as given; T>1 flattens the mixture toward
    uniform (up-samples small sources); T<1 sharpens it.
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    if not weights or all(w <= 0 for w in weights.values()):
        raise ValueError("weights must contain at least one positive entry")
    if temperature <= 0:
        raise ValueError("temperature must be positive")
    if temperature != 1.0:
        weights = {
            k: (w ** (1.0 / temperature) if w > 0 else 0.0)
            for k, w in weights.items()
        }
    from paradump_spark.functions import text as TX

    avail = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(TX.token_count(text_col)).cast("long").alias("available_tokens")
    )
    w = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )[F.col("source")]
    weighted = avail.withColumn("weight", F.coalesce(w, F.lit(0.0)))
    total_w = weighted.agg(F.sum("weight")).collect()[0][0]
    if not total_w:
        raise ValueError("no weighted source present in the corpus")
    target = F.round(F.lit(float(token_budget)) * F.col("weight") / total_w, 6)
    frac = F.round(target / F.col("available_tokens"), 6)
    return weighted.select(
        "source",
        "available_tokens",
        F.round("weight", 6).alias("weight"),
        target.alias("target_tokens"),
        frac.alias("fraction"),
        F.ceil(frac).cast("long").alias("epochs"),
    )


def _sample_order(id_col: str, seed: str) -> list[Column]:
    """The total (hash bucket, id) order a per-group sample keeps."""
    return [hash_bucket(F.col(id_col), seed).asc(), F.col(id_col).asc()]


def group_top_k_partial(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    k: int,
    seed: str = "",
) -> DataFrame:
    """Stage 1 of the skew-safe :func:`group_top_k`: per-INPUT-PARTITION
    top-k within each group.

    The window partitions on ``(spark_partition_id, group)``, so a hot
    group ("all of English") is spread across every input partition
    instead of collapsing onto one task — the shuffle keys are as
    numerous as ``partitions × groups`` and each task sees at most one
    input partition's share of one group.  Output is a SUPERSET of the
    global top-k (per-partition top-k union always contains it) with at
    most ``k × input_partitions`` rows per group.
    """
    return partial_topk(df, list(group_cols), _sample_order(id_col, seed), k)


def group_top_k(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    k: int,
    seed: str = "",
) -> DataFrame:
    """Deterministic per-group sample: the ``k`` rows of each group with
    the smallest :func:`hash_bucket` of their id (ties broken by id) —
    the balanced-mix primitive ("k docs per language/source"), stable
    across engines and runs.

    Skew-safe two-stage plan (`plans.topk.top_n`): the cut of
    :func:`group_top_k_partial` first brings each group to ≤ ``k ×
    input_partitions`` candidates with a window keyed on
    ``(spark_partition_id, group)`` — one full-data shuffle whose keys
    spread hot groups over all partitions — then the global ``row_number``
    window ranks only the surviving candidates, so the per-group task that
    would have received *every* row of a web-scale group now receives at
    most ``k × partitions`` rows.  The result is identical to the naive
    single-window plan (the per-partition top-k union is a superset of
    the global top-k, and the (bucket, id) order is total).

    DuckDB spelling (partitioning-free, same result): ``row_number()
    OVER (PARTITION BY g ORDER BY <hash_bucket sql>, id) <= k``.
    """
    return top_n(
        df, list(group_cols), _sample_order(id_col, seed), k, "__rn"
    ).drop("__rn")
