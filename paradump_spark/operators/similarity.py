"""Similarity search over embedding columns (``array<float>``).

Beyond-reference surface.  Two physical strategies:

* **brute-force top-k** — broadcast the (small) query set, crossJoin the
  corpus, rank per query.  The corpus side streams: no corpus shuffle at
  all when the query side broadcasts; the only wide op is the per-query
  top-k, which aggregates map-side.  This is the exact baseline.
* **IVF (inverted-file) top-k** — coarse-quantize the corpus to the
  nearest of C deterministic sampled centroids (map-side: the centroid
  table ships with the kernel), then search only the ``nprobe`` closest
  cells per query.  At 100 TB the corpus scan becomes a partition-pruned
  read of ~nprobe/C of the data if the corpus table is written
  bucketed/partitioned by cell id.

Every search shares three steps, each written once:

* **probe** — every nearest-centroid and per-cell scoring step runs
  through one numpy kernel, :func:`top_p`, in a map-side
  (:func:`_top_p_map`: cell assignment and each query's ``nprobe``
  cells) and a cogrouped form (:func:`_top_p_cogroup`);
* **rank** — each query's top k is `plans.topk.top_n` (a partial cut,
  then a bounded global ``row_number``), and :func:`_neighbors` emits
  the public (query_id, neighbor_id, rank, cosine) shape;
* **index layout** — this module alone knows the stored index: the
  corpus written partitioned by ``cell_id`` (:func:`_write_cells`) and
  the one-row ``index_meta`` (:func:`write_index_meta`,
  :func:`_index_meta`).

:func:`brute_force_topk` stays pure JVM as the reference the kernels are
checked against; it shares only the rank step.
"""

from __future__ import annotations

import logging

import numpy as np

# module-top so the pandas_udf type hints ("pd.Series" strings under
# PEP 563) resolve from this module's globals at decoration time
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from paradump_spark.functions import vectors as V
from paradump_spark.operators.dedup import spread
from paradump_spark.plans.topk import top_n

log = logging.getLogger("paradump_spark")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    Output: (query_id, neighbor_id, rank, cosine) with deterministic
    tie-break (cosine desc, neighbor id asc).
    """
    qid = query_id_col or id_col
    # normalize each side ONCE; per-pair work is then a single dot fold
    q = queries.select(
        F.col(qid).alias("query_id"), V.normalized(F.col(vec_col)).alias("__qv")
    )
    c = spread(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"), V.normalized(F.col(vec_col)).alias("__cv")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        V.dot(F.col("__qv"), F.col("__cv")).alias("cosine"),
    )
    return _neighbors(scored, k)


def _neighbors(scored: DataFrame, k: int, bounded: bool = False) -> DataFrame:
    """The public search result from (query_id, neighbor_id, cosine)
    rows: each query's top ``k`` by (cosine desc, neighbor_id asc) — a
    total order — as (query_id, neighbor_id, rank, cosine rounded to 6
    places).  The rank is skew-safe (`plans.topk.top_n`): the per-query
    task never receives the whole scored corpus.  ``bounded``: ``scored``
    already holds few rows per query, so one window ranks them."""
    order = [F.col("cosine").desc(), F.col("neighbor_id").asc()]
    return top_n(scored, ["query_id"], order, k, bounded=bounded).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, num_cells: int, seed: int = 42
) -> DataFrame:
    """Deterministic coarse centroids: the ``num_cells`` corpus vectors
    with the smallest md5(id) — a hash-random, reproducible sample (a
    k-means refinement step can replace this without changing the plan).
    Returns (cell_id, centroid).

    ``orderBy().limit(n)`` compiles to a distributed TakeOrderedAndProject
    (per-partition top-n, then merge) — never a single-partition global
    window, which would funnel the whole corpus through one task.  The
    row_number window runs only on the ≤ num_cells survivors.
    """
    key = F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string")))
    top = (
        corpus.select(F.col(id_col), F.col(vec_col), key.alias("__k"))
        .orderBy("__k")
        .limit(num_cells)
    )
    w = Window.orderBy("__k")
    return (
        top.withColumn("__r", F.row_number().over(w))
        .select((F.col("__r") - 1).alias("cell_id"), F.col(vec_col).alias("centroid"))
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 2,
    train_cap: int | None = 4096,
    seed: int = 42,
) -> DataFrame:
    """Lloyd refinement of the sampled IVF centroids (spherical k-means:
    cosine assignment, normalized cell means).  Plugs into
    :func:`ivf_build_index` / :func:`ivf_topk` without changing either
    plan — the docstring promise at :func:`ivf_centroids`.

    ``train_cap`` bounds the TRAINING set: the cap-many corpus vectors
    with the smallest md5(id) (the same hash-random order the coarse
    sampler uses) are pulled to the driver ONCE (≤ cap × dims floats —
    a few MB) and the Lloyd iterations run in numpy there, like faiss
    trains its coarse quantizer on an in-memory sample.  Training on a
    sample is the standard IVF recipe — centroid quality depends on the
    sample covering the distribution, not on every row — and it makes
    build cost independent of corpus size AND of ``iters`` (no Spark job
    per iteration; the only full-corpus passes in :func:`ivf_build_index`
    are the final assignment + write).  This is a bounded plan-time
    collect, the same class as ``approxQuantile`` split sampling — not a
    data-path collect.

    ``train_cap=None`` trains distributed on everything: per iteration
    the assignment is the broadcast argmax (no corpus shuffle) and the
    mean is ``posexplode`` → ``groupBy(cell, dim)`` — partial aggregation
    compresses each task's contribution to ``cells × dims`` rows before
    the shuffle, so shuffle volume is ``partitions × cells × dims``,
    independent of training row count.

    Both paths: cells that end an iteration empty keep their previous
    centroid, so cell count (and the index layout) is stable; argmax
    ties break to the lowest cell_id.
    """
    if train_cap is not None:
        return _kmeans_refine_sampled(
            corpus, centroids, id_col, vec_col, iters, train_cap, seed
        )
    for _ in range(iters):
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
        means = (
            # spherical k-means: mean of the UNIT vectors, so magnitude
            # outliers don't drag a cell's direction
            assigned.select(
                "cell_id",
                F.posexplode(V.normalized(F.col(vec_col))).alias("dim", "val"),
            )
            .groupBy("cell_id", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                "cell_id",
                V.normalized(F.transform(F.col("dm"), lambda s: s["m"]))
                .cast("array<float>")  # match the sampled-centroid type
                .alias("__new"),
            )
        )
        centroids = (
            centroids.join(means, "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce(F.col("__new"), F.col("centroid")).alias("centroid"),
            )
            .localCheckpoint()  # cut the lineage: iters chain multiplies plans
        )
    return centroids


def _kmeans_refine_sampled(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int,
    train_cap: int,
    seed: int,
) -> DataFrame:
    """Driver-side spherical k-means over a bounded hash-random sample
    (see :func:`kmeans_refine`).  One Spark job (TakeOrderedAndProject to
    fetch the sample) regardless of ``iters``."""
    key = F.md5(F.concat(F.lit(f"train{seed}|"), F.col(id_col).cast("string")))
    rows = (
        corpus.select(F.col(vec_col).alias("v"), key.alias("__k"))
        .orderBy("__k")  # TakeOrderedAndProject: per-partition top-n
        .limit(train_cap)
        .collect()
    )
    cents = sorted(centroids.collect(), key=lambda r: r["cell_id"])
    cell_ids = [r["cell_id"] for r in cents]
    C = np.array([r["centroid"] for r in cents], dtype=np.float64)
    Xn = _unit(np.array([r["v"] for r in rows], dtype=np.float64))
    for _ in range(iters):
        # nearest cell by top_p: ties break to the lowest cell_id, the
        # same order as the distributed assignment
        assign = top_p(Xn, _unit(C), 1)[0][:, 0]
        for j in range(len(cell_ids)):
            members = Xn[assign == j]
            if len(members):  # empty cell keeps its previous centroid VERBATIM
                C[j] = _unit(members.mean(axis=0, keepdims=True))[0]
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(int(cid), [float(x) for x in C[j]]) for j, cid in enumerate(cell_ids)],
        "cell_id int, centroid array<float>",
    )


def _unit(m: np.ndarray) -> np.ndarray:
    """Row-normalized copy of ``m``; zero rows stay zero (the
    ``V.normalized`` convention)."""
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0.0, 1.0, n)


def _dim(*cols) -> int:
    """The most common length of the non-NULL vectors in ``cols`` (ties
    to the shorter; 0 when there is none): the width a vector needs to
    be scored."""
    lens = [len(v) for c in cols for v in c if v is not None]
    return int(np.bincount(lens).argmax()) if lens else 0


def _stack(vs, d: int) -> tuple[np.ndarray, np.ndarray]:
    """The scoreable rows of an ``array<float>`` column batch: a boolean
    mask over ``vs`` and the float64 ``mask.sum() × d`` matrix of those
    rows.  A NULL or ragged (not ``d`` entries) vector is bad input
    that becomes data — its row is left out, it never fails the job."""
    ok = np.array([v is not None and len(v) == d for v in vs], dtype=bool)
    rows = [v for v, keep in zip(vs, ok) if keep]
    return ok, np.array(rows, dtype=np.float64).reshape(len(rows), d)


def top_p(
    X: np.ndarray, C: np.ndarray, p: int, exclude: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """The nearest-centroid / per-cell scoring step every kernel in this
    package shares: for each unit row of ``X``, the ``p`` unit rows of
    ``C`` with the highest cosine, ordered by (cosine desc, row index
    asc).  Callers sort ``C`` by id, so index order is id order and the
    tie-break is the lowest id — the order of :func:`brute_force_topk`.

    Returns ``(order, score)``, two ``len(X) × min(p, len(C))`` arrays:
    row indices into ``C`` and their cosines.  ``p == 1`` is an argmax
    (numpy keeps the FIRST maximum); otherwise a stable argsort of the
    negated scores keeps equal scores in index order.  ``exclude``
    (boolean, ``len(X) × len(C)``) marks pairs that must not be
    returned: they score ``-inf``, sort last, and the caller drops them
    with ``np.isfinite(score)``.  The matmul sums in a different order
    than the JVM's left fold, so scores can differ from
    :func:`brute_force_topk` in the last bits; the oracle comparisons
    round to 6 decimals.
    """
    S = X @ C.T
    if exclude is not None:
        S[exclude] = -np.inf
    if p == 1:
        order = np.argmax(S, axis=1)[:, None]
    else:
        order = np.argsort(-S, axis=1, kind="stable")[:, :p]
    return order, np.take_along_axis(S, order, axis=1)


def _top_p_map(df: DataFrame, rows, vec_col: str, p: int) -> DataFrame:
    """Map-side form of the :func:`top_p` kernel: ``df`` + ``cell_id``,
    each row's ``p`` nearest of the collected centroid ``rows``
    ((cell_id, centroid) Rows, bounded by the cell count).  The table is
    normalized once on the driver and ships in the UDF closure; each
    Arrow batch is one matmul.  No shuffle.

    ``p == 1`` labels every row; ``p > 1`` replicates each row once per
    cell.  A row whose vector is NULL or not as wide as the centroids,
    or any row when there is no centroid, gets a NULL ``cell_id``
    (``p == 1``) or no rows (``p > 1``).  NULL and ragged centroids are
    skipped.
    """
    d = _dim([r["centroid"] for r in rows])
    rows = sorted(
        (r for r in rows if r["centroid"] is not None and len(r["centroid"]) == d),
        key=lambda r: int(r["cell_id"]),
    )
    if not rows:
        out = df.withColumn("cell_id", F.lit(None).cast("int"))
        return out if p == 1 else out.where(F.lit(False))
    ids = np.array([int(r["cell_id"]) for r in rows], dtype=np.int32)
    C = _unit(np.array([r["centroid"] for r in rows], dtype=np.float64))

    @pandas_udf("int" if p == 1 else "array<int>")
    def cells(vs: pd.Series) -> pd.Series:
        ok, X = _stack(vs, d)
        top = ids[top_p(_unit(X), C, p)[0]]
        if p == 1:
            out = pd.array([None] * len(vs), dtype="Int32")
            out[ok] = top[:, 0]
            return pd.Series(out)
        out = [None] * len(vs)
        for i, t in zip(np.flatnonzero(ok), top):
            out[i] = t
        return pd.Series(out, dtype=object)

    # The kernel IS deterministic — the marking exists to stop Catalyst
    # from re-evaluating it: constraint inference on a downstream join
    # key (isnotnull(cell_id)), or InferFiltersFromGenerate's
    # `size(cells) > 0` below the explode, otherwise pushes an inferred
    # filter that REFERENCES the UDF below the projection, planning a
    # second ArrowEvalPython per row (observed in the round-9 kNN plan:
    # every corpus row paid the centroid matmul twice).
    # Nondeterministic expressions cannot be duplicated or pushed
    # through, which is exactly the barrier wanted; values are unchanged.
    label = cells.asNondeterministic()(F.col(vec_col))
    if p == 1:
        return df.withColumn("cell_id", label)
    return (
        df.withColumn("__pcs", label)
        .select("*", F.explode("__pcs").alias("cell_id"))
        .drop("__pcs")
    )


def _top_p_cogroup(
    left: DataFrame,
    right: DataFrame,
    left_vec: str,
    right_id: str,
    right_vec: str,
    p: int,
    schema,
    emit,
    exclude_key: str | None = None,
) -> DataFrame:
    """Cogrouped form of the :func:`top_p` kernel: ``left`` and
    ``right`` meet on ``cell_id`` (one shuffle on the cell key, never a
    broadcast of the right side) and each left row gets its ``p`` best
    right rows of the same cell, ranked by (cosine desc, ``right_id``
    asc).  Both vector columns are normalized in the kernel.

    ``emit(lpdf, ids, score)`` turns a cell's left rows and their
    ``len(lpdf) × p`` right ids and cosines into output rows of
    ``schema``; a cell with no right rows passes zero-width arrays.
    ``exclude_key`` names a left column whose value must not be paired
    with an equal ``right_id`` (a self-join's own row).  Vectors that
    are NULL or not of the cell's most common width (:func:`_dim`) are
    left out on both sides: such a left row gives no output row.
    """

    def kernel(_key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        d = _dim(lpdf[left_vec], rpdf[right_vec])
        lok, X = _stack(lpdf[left_vec], d)
        lpdf = lpdf[lok]
        if not len(lpdf):
            return pd.DataFrame()
        rok, R = _stack(rpdf[right_vec], d)
        if not rok.any():
            none = np.empty((len(lpdf), 0), dtype=object)
            return emit(lpdf, none, np.empty((len(lpdf), 0)))
        rpdf = rpdf[rok].reset_index(drop=True)
        rpdf = rpdf.sort_values(right_id, kind="mergesort")
        rids = rpdf[right_id].to_numpy()
        exclude = None
        if exclude_key is not None:
            exclude = lpdf[exclude_key].to_numpy()[:, None] == rids[None, :]
        order, score = top_p(
            _unit(X), _unit(R[rpdf.index.to_numpy()]), p, exclude
        )
        return emit(lpdf, rids[order], score)

    return (
        left.groupBy("cell_id")
        .cogroup(right.groupBy("cell_id"))
        .applyInPandas(kernel, schema)
    )


def _emit_pairs(key: str, rid: str, score: str):
    """``emit`` for :func:`_top_p_cogroup` giving narrow
    (``key``, ``rid``, ``score``) rows: one per left row and kept right
    row, excluded pairs dropped."""

    def emit(lpdf, ids, scores):
        keep = np.isfinite(scores).ravel()
        return pd.DataFrame(
            {
                key: np.repeat(lpdf[key].to_numpy(), ids.shape[1])[keep],
                rid: ids.ravel()[keep],
                score: scores.ravel()[keep],
            }
        )

    return emit


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid cell: corpus
    columns + ``cell_id`` (int), ties to the LOWEST cell_id.

    The centroid table is collected once (bounded by the cell count) and
    the map-side :func:`top_p` kernel labels each Arrow batch with one
    numpy matmul + argmax — map-only, no corpus shuffle.  Writing the
    result partitioned by cell_id turns later probes into
    partition-pruned scans.  An empty (or all-NULL) centroid table gives
    a NULL ``cell_id`` on every row.
    """
    return _top_p_map(corpus, centroids.collect(), vec_col, 1)


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    num_cells: int = 16,
    seed: int = 42,
    refine_iters: int = 0,
    train_cap: int | None = 4096,
) -> None:
    """Materialize an IVF index: the corpus written PARTITIONED BY cell_id
    (so probes become partition-pruned scans) + the centroid table.

    At 100 TB this is the difference between touching nprobe/num_cells of
    the data per query batch and scanning everything: the cell filter in
    :func:`ivf_query_index` shows up as ``PartitionFilters`` in the scan.
    ``refine_iters`` > 0 runs that many Lloyd iterations on the sampled
    centroids before assignment (better-balanced cells, higher recall at
    the same nprobe).
    """
    cents = ivf_centroids(corpus, id_col, vec_col, num_cells, seed)
    if refine_iters:
        cents = kmeans_refine(
            corpus, cents, id_col, vec_col, refine_iters,
            train_cap=train_cap, seed=seed,
        )
    n_rows = _write_cells(ivf_assign(corpus, cents, id_col, vec_col), path)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    write_index_meta(corpus.sparkSession, path, n_rows=n_rows)


def _write_cells(assigned: DataFrame, path: str, mode: str = "overwrite") -> int:
    """Write ``assigned`` (rows + ``cell_id``) as the index corpus,
    partitioned by ``cell_id`` so probes become partition-pruned scans;
    returns the number of rows written.

    The count rides the write job as an Observation — re-reading the
    freshly written corpus to count it is a whole extra job + parquet
    listing per build.  Rows are clustered by cell before the write:
    without that every input task writes one file per cell it touches
    (tasks × cells tiny files — at cluster scale, millions); one hash
    shuffle on cell_id makes each task own whole cells, so file count ≈
    max(num_cells, shuffle partitions) with row groups big enough to
    scan well."""
    from pyspark.sql import Observation

    obs = Observation()
    assigned.observe(obs, F.count(F.lit(1)).alias("n_rows")).repartition(
        F.col("cell_id")
    ).write.mode(mode).partitionBy("cell_id").parquet(f"{path}/corpus")
    return obs.get["n_rows"]


def write_index_meta(spark, path: str, n_rows: int, residual: bool = False) -> None:
    """One-row marker alongside the index: the residual-encoding flag
    (IVF-PQ) and the STORED ROW COUNT.  The count is what
    :func:`derive_search_budget` needs; keeping it here makes the
    auto-budget derivation a one-file read instead of a corpus
    ``count()`` — at 100 TB the latter reads the footers of millions of
    partition files per query batch."""
    target = f"{path}/index_meta"
    if _resolves_driver_local(spark, path):
        # one row: a driver-side pyarrow write costs microseconds where a
        # Spark job + output commit costs ~1 s of fixed overhead per
        # build (the r07 ivf_build_refined regression was exactly this
        # meta write + a read-back count); Spark reads the directory
        # identically
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as papq

        local = target[len("file://"):] if target.startswith("file://") else target
        tbl = pa.table(
            {
                "residual": pa.array([bool(residual)], pa.bool_()),
                "n_rows": pa.array([int(n_rows)], pa.int64()),
            }
        )
        shutil.rmtree(local, ignore_errors=True)
        os.makedirs(local, exist_ok=True)
        papq.write_table(tbl, os.path.join(local, "part-00000.parquet"))
        return
    # remote filesystems (hdfs/s3/...) go through Spark's committer
    spark.createDataFrame(
        [(bool(residual), int(n_rows))], "residual boolean, n_rows long"
    ).write.mode("overwrite").parquet(target)


def _resolves_driver_local(spark, path: str) -> bool:
    """True iff ``path`` resolves to the DRIVER's local filesystem, so
    the pyarrow fast-path write lands where Spark will read it back.
    A scheme-less path is only local when the session's Hadoop
    ``fs.defaultFS`` is the local FS (ADVICE r08: on an HDFS-default
    cluster the corpus goes to HDFS but a driver-local meta write would
    be invisible to ``index_row_count`` — silent full-corpus recounts
    and stale-meta reads)."""
    if path.startswith("file://"):
        return True
    if "://" in path:
        return False
    try:
        fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS")
    except Exception:  # no JVM handle (mocked session) — assume local
        fs = None
    return fs is None or fs.startswith("file:")


def _index_meta(spark, path: str) -> tuple[bool, int | None]:
    """``(residual, n_rows)`` from the index's ``index_meta``: the
    IVF-PQ residual-encoding flag and the stored row count.  An index
    without a meta (a legacy layout) reads as ``(False, None)``, and a
    meta from before the count was recorded gives ``n_rows`` None."""
    try:
        row = spark.read.parquet(f"{path}/index_meta").collect()[0]
    except Exception:
        return False, None
    n = row["n_rows"] if "n_rows" in row.__fields__ else None
    return bool(row["residual"]), None if n is None else int(n)


def index_row_count(spark, path: str) -> int:
    """Stored row count from ``index_meta``; legacy indexes (or metas
    from before the count was recorded) fall back to counting the
    corpus."""
    n = _index_meta(spark, path)[1]
    return spark.read.parquet(f"{path}/corpus").count() if n is None else n


def _bump_index_meta(spark, path: str, n_new: int) -> None:
    """Advance the stored row count after an append.  Written AFTER the
    data append: a crash in between leaves the count low, which only
    under-sizes auto search budgets (delete ``index_meta`` to force a
    recount-and-heal on the next append).  A legacy index with no meta
    is migrated by counting the full corpus once.

    NOT concurrency-safe (ADVICE r07): this is a read-modify-write, so
    two appends racing on one index would each read the old count and
    the last writer's meta drops the other's increment — permanently
    under-counting and under-sizing auto budgets.  Appends to one index
    must be serialized by the caller, exactly like rebuilds (the
    partitioned parquet append itself has the same single-writer
    contract).  If a race is suspected, delete ``index_meta`` — the
    next append recounts the corpus and heals the stored count."""
    residual, old = _index_meta(spark, path)
    if old is None:  # legacy: corpus already contains the new rows
        n_total = spark.read.parquet(f"{path}/corpus").count()
    else:
        n_total = old + int(n_new)
    write_index_meta(spark, path, n_rows=n_total, residual=residual)


def ivf_append_index(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str,
    vec_col: str,
) -> None:
    """Incrementally add vectors to a materialized IVF index — the
    ANN analogue of the dedup signature store: corpora grow, and
    rebuilding a 100 TB index nightly is the failure mode this avoids.

    Centroids are FROZEN (the index layout and every existing cell
    assignment stay valid — faiss's add-after-train contract): new
    vectors assign to their nearest existing cell (broadcast argmax,
    map-only) and append into the same ``cell_id=`` partition layout.
    Queries see old and new vectors identically; exactness at full
    probe is unaffected because the final scoring is true cosine.
    Re-train (rebuild) only when drift makes cells unbalanced —
    `plans.skew.skew_report` over cell_id is the check.

    Caller contract: new ids must be new (dedup upstream, as with
    `sinks.shards.append_to_shards`), and appends to one index must be
    serialized — both the parquet append and the ``index_meta`` row
    count are single-writer (see :func:`_bump_index_meta`).
    """
    cents = spark.read.parquet(f"{path}/centroids")
    # the write counts the NEW rows, so the meta update after the append
    # never re-scans the whole index
    assigned = ivf_assign(new_corpus, cents, id_col, vec_col)
    _bump_index_meta(spark, path, _write_cells(assigned, path, "append"))


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int | None = None,
    query_id_col: str | None = None,
) -> DataFrame:
    """Search a materialized IVF index: pick each query's ``nprobe``
    nearest cells (the map-side :func:`top_p` kernel over the collected
    centroid table), then scan ONLY those partitions of the stored
    corpus.

    ``nprobe=None`` (the default) derives the probe budget from the
    index's CURRENT row/cell counts via :func:`derive_search_budget`,
    so an index grown by appends keeps its recall instead of silently
    searching at build-time budgets (VERDICT r06 directive 4).

    A query whose vector is NULL or not as wide as the centroids gets
    no rows; it never fails the search.
    """
    qid = query_id_col or id_col
    rows = spark.read.parquet(f"{path}/centroids").collect()
    if nprobe is None:
        nprobe = derive_search_budget(
            index_row_count(spark, path), len(rows), k
        )["nprobe"]
    probes = _probe(queries, qid, vec_col, rows, nprobe)
    corpus = spark.read.parquet(f"{path}/corpus").where(
        F.col("cell_id").isin(_probed_cells(probes))
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, "cell_id")
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            V.cosine(F.col("__qv"), F.col(vec_col)).alias("cosine"),
        )
    )
    return _neighbors(scored, k)


def _probe(queries: DataFrame, qid: str, vec_col: str, rows, nprobe: int) -> DataFrame:
    """(query_id, __qv, cell_id): each query once per its ``nprobe``
    nearest of the collected centroid ``rows`` (:func:`_top_p_map`; ties
    to the lowest cell_id).  A NULL or ragged query vector gets no
    probe, so its search finds no rows."""
    q = queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("__qv"))
    return _top_p_map(q, rows, "__qv", nprobe).where(F.col("cell_id").isNotNull())


def _probed_cells(probes: DataFrame) -> list:
    """The sorted union of probed cells — tiny (≤ queries × nprobe ≤
    num_cells): an IN-list literal on the partition column prunes the
    corpus scan."""
    return sorted(r["cell_id"] for r in probes.select("cell_id").distinct().collect())


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int | None = 4,
    query_id_col: str | None = None,
    refine_iters: int = 0,
) -> DataFrame:
    """Approximate top-k: search only the ``nprobe`` nearest cells per query.

    Same output shape as :func:`brute_force_topk`; recall < 1 by design
    (rows-only correctness check).  Scan cost ≈ nprobe/num_cells of brute
    force once the assigned corpus is stored partitioned by cell.

    ``nprobe=None`` derives the probe budget from the corpus size and
    ``num_cells`` via :func:`derive_search_budget` (the materialized
    query paths' default); the explicit ``4`` default is kept here
    because this ad-hoc path is the declared rows-only bench query and
    its recall/latency point must stay comparable across rounds.

    The centroid table is collected once and feeds both the corpus
    assignment and the query probe.  A query whose vector is NULL or
    not as wide as the centroids gets no rows; it never fails the
    search.
    """
    qid = query_id_col or id_col
    if nprobe is None:
        nprobe = derive_search_budget(corpus.count(), num_cells, k)["nprobe"]
    cents = ivf_centroids(corpus, id_col, vec_col, num_cells)
    if refine_iters:
        cents = kmeans_refine(corpus, cents, id_col, vec_col, refine_iters)
    rows = cents.collect()
    assigned = _top_p_map(corpus, rows, vec_col, 1).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "cell_id"
    )
    probes = _probe(queries, qid, vec_col, rows, nprobe)
    scored = F.broadcast(probes).join(assigned, "cell_id").select(
        "query_id",
        "neighbor_id",
        V.cosine(F.col("__qv"), F.col("__cv")).alias("cosine"),
    )
    return _neighbors(scored, k)


def ann_recall(
    approx: DataFrame, exact: DataFrame, k: int | None = None
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one.

    Both inputs are (query_id, neighbor_id[, rank, ...]) frames (the shape
    :func:`brute_force_topk` / :func:`ivf_topk` return).  Output: one row
    (n_queries, mean_recall).  The standard ANN quality gate — run it on a
    sample before trusting an IVF/LSH configuration at full scale.
    """
    if k is not None:
        missing = [
            side
            for side, frame in (("approx", approx), ("exact", exact))
            if "rank" not in frame.columns
        ]
        if missing:
            raise ValueError(
                f"k={k} requires a 'rank' column on both inputs; missing on "
                f"{missing} — truncating only one side would misstate recall"
            )
        a = approx.where(F.col("rank") <= k).select("query_id", "neighbor_id")
        e = exact.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    else:
        a = approx.select("query_id", "neighbor_id")
        e = exact.select("query_id", "neighbor_id")
    hits = e.join(a, on=["query_id", "neighbor_id"], how="left_semi")
    per_q = (
        e.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            on="query_id",
            how="left",
        )
        .select(
            "query_id",
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_exact")
            ).alias("recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
    )


def ivf_rebuild_index(
    spark,
    path: str,
    id_col: str,
    vec_col: str,
    max_share: float = 0.25,
    split_factor: int = 2,
    refine_iters: int = 1,
    seed: int = 42,
) -> dict:
    """Rebalance a materialized IVF index by SPLITTING overfull cells —
    the missing third of the build / append / query lifecycle (VERDICT
    r05 directive 5).  After many :func:`ivf_append_index` rounds a
    drifted corpus piles into a few cells; every probe that touches a
    hot cell scans ever more rows.  A full re-train rewrites the whole
    index; this touches ONLY the overfull cells:

    for each cell holding more than ``max_share`` of the index:
      1. read just that ``cell_id=`` partition (partition-pruned scan);
      2. train ``split_factor`` sub-centroids on it (hash-random sample
         + spherical k-means refine — the build path's own trainer);
      3. assign the cell's vectors to the sub-centroids (broadcast
         argmax, map-only) and append them under NEW cell_ids;
      4. replace the split centroid with the sub-centroids and delete
         the old partition directory (Hadoop FileSystem API — works on
         HDFS/S3A, not just local disk).

    Untouched cells keep their files, ids, and assignments, so the cost
    scales with the overfull fraction, not the index size.  Exactness
    at full probe is preserved: scoring is true cosine over the same
    vectors, only their cell labels changed.  Works for plain IVF and
    flat IVF-PQ indexes as pure relabeling (flat PQ codes encode the
    raw vector, so they stay valid); for RESIDUAL IVF-PQ indexes the
    split cells' codes encode ``normalized(vec) − normalized(centroid)``
    and are RE-ENCODED against their new sub-centroid with the stored
    frozen codebooks (the raw vectors are already in the partition
    being read, so this adds no extra scan).  Residuals around a
    closer centroid cluster tighter around 0, so re-encoding with the
    old codebooks preserves — typically improves — quantization
    quality; only the split cells pay the encode cost.

    Run OFFLINE like a compaction: concurrent queries between steps 3
    and 4 could see a split cell's rows twice (never miss them).

    Returns a report dict (cells split, max share before/after).
    """
    corpus_path = f"{path}/corpus"
    residual = _index_meta(spark, path)[0]
    books = None
    if residual:  # split cells re-encode with the frozen codebooks
        from paradump_spark.operators.pq import load_codebooks

        books = load_codebooks(spark, f"{path}/pq_codebooks")
    counts = {
        int(r["cell_id"]): int(r["n"])
        for r in spark.read.parquet(corpus_path)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    report = {
        "total_rows": total,
        "n_cells_before": len(counts),
        "max_share_before": max(counts.values()) / total if total else 0.0,
        "split_cells": [],
    }
    if not total:
        return report
    over = sorted(c for c, n in counts.items() if n / total > max_share)
    if not over:
        report["n_cells_after"] = len(counts)
        report["max_share_after"] = report["max_share_before"]
        return report

    # centroid table is tiny (num_cells rows) and about to be
    # self-overwritten — snapshot it on the driver first
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cent_schema = spark.read.parquet(f"{path}/centroids").schema
    kept = [r for r in cent_rows if int(r["cell_id"]) not in set(over)]
    # new ids must clear EVERY existing centroid id, not just non-empty
    # corpus cells: kmeans_refine keeps empty cells' centroids verbatim,
    # and reusing such an id would leave two centroids under one cell_id
    # (duplicate candidates on probes of that cell).
    next_id = max(max(int(r["cell_id"]) for r in cent_rows), max(counts)) + 1
    new_cent_frames = []
    for c in over:
        cell_df = (
            spark.read.parquet(corpus_path)
            .where(F.col("cell_id") == c)
            .drop("cell_id")  # keeps payload cols (e.g. flat pq_code)
        )
        sub = ivf_centroids(cell_df, id_col, vec_col, split_factor, seed)
        if refine_iters:
            sub = kmeans_refine(
                cell_df, sub, id_col, vec_col, refine_iters, seed=seed
            )
        sub = sub.withColumn(
            "cell_id", (F.col("cell_id") + F.lit(next_id)).cast("int")
        ).localCheckpoint(eager=True)  # consumed twice: assign + centroid table
        assigned = ivf_assign(cell_df, sub, id_col, vec_col)
        if residual:
            # codes encode normalized(vec) − normalized(old centroid);
            # re-encode against the NEW sub-centroid with the frozen
            # codebooks (the build/append paths' encode)
            from paradump_spark.operators.pq import _encode_cells

            assigned = _encode_cells(
                assigned.drop("pq_code"), sub, vec_col, books, residual=True
            )
        _write_cells(assigned, path, "append")
        new_cent_frames.append(sub)
        report["split_cells"].append(
            {"cell_id": c, "n": counts[c], "new_ids": list(range(next_id, next_id + split_factor))}
        )
        next_id += split_factor

    merged = spark.createDataFrame(kept, cent_schema)
    for f in new_cent_frames:
        merged = merged.unionByName(f.select(*[c.name for c in cent_schema]))
    merged = merged.localCheckpoint(eager=True)  # detach from the path
    merged.write.mode("overwrite").parquet(f"{path}/centroids")

    # old partitions last: queries probing the updated centroid table
    # never reference them, and a crash before this point only leaves
    # duplicate (not missing) rows
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for c in over:
        jpath = jvm.org.apache.hadoop.fs.Path(f"{corpus_path}/cell_id={c}")
        jpath.getFileSystem(hconf).delete(jpath, True)

    after = {
        int(r["cell_id"]): int(r["n"])
        for r in spark.read.parquet(corpus_path)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    report["n_cells_after"] = len(after)
    report["max_share_after"] = max(after.values()) / total if after else 0.0
    return report


def ivf_index_stats(spark, path: str, top_k: int = 64):
    """Per-cell fill report for a materialized IVF / IVF-PQ index —
    `plans.skew.skew_report` over the stored cell layout.  This is the
    "rebuild yet?" check the append path points at: after many
    :func:`ivf_append_index` rounds drift shows up here as a hot cell
    whose imbalance climbs (probes that touch it scan ever more rows);
    re-train when the hottest cell's imbalance outgrows the recall/
    latency budget."""
    from paradump_spark.plans.skew import skew_report

    corpus = spark.read.parquet(f"{path}/corpus")
    return skew_report(corpus, ["cell_id"], top_k=top_k)


def suggest_index_params(n_vectors: int, k: int = 10) -> dict:
    """Corpus-size-scaled IVF/PQ parameters — the knob half of the
    build/append/stats/rebuild lifecycle.

    The sf0.1 -> sf1 scaling ledger (SF1_LEDGER.json,
    ``recall_scaled_sf1``) measured that recall@10 at FIXED parameters
    degrades with corpus growth purely because the search budget stops
    covering the denser neighborhood; these rules keep the budget
    proportional:

    * ``rescore = max(10*k, N // 20)`` — VALIDATED at two scales: N/20
      reads recall@10 0.953 at N=2k (rescore 100) and 0.99 at N=20k
      (rescore 1000; 0.92 already at 300).
    * ``num_cells = clamp(4*sqrt(N), 4, N // 64)`` — the published
      faiss guideline (4sqrt(N)..16sqrt(N)) floored so every cell keeps
      >= 64 training vectors; the clamp binds below ~82k vectors.
    * ``nprobe = max(4, num_cells // 16)`` — ~6% of cells, the
      conventional starting point; raise toward ``num_cells`` when the
      measured recall (``ann_recall`` on a held-out query sample)
      misses the application target.

    Pure driver arithmetic — callers feed ``df.count()`` or the summed
    ``ivf_index_stats`` fills.  Heuristics, not guarantees: the ledger
    shows the *direction* is right; always confirm with ``ann_recall``
    at the new settings.
    """
    if n_vectors < 1:
        raise ValueError("n_vectors must be positive")
    cells = max(4, min(int(4 * n_vectors ** 0.5), n_vectors // 64 or 4))
    return {
        "num_cells": cells,
        "nprobe": max(4, cells // 16),
        "rescore": max(10 * k, n_vectors // 20),
    }


def derive_search_budget(n_rows: int, n_cells: int, k: int = 10) -> dict:
    """Auto-scale the SEARCH budget for an EXISTING index of ``n_rows``
    vectors in ``n_cells`` cells (VERDICT r06 directive 4: the query
    paths must not silently keep fixed nprobe/rescore as the corpus
    grows — the sf0.1→sf1 ledger measured recall@10 dropping
    0.953→0.749 at fixed budgets, recovered to 0.92–0.99 by scaling).

    * ``rescore = max(10k, N/20)`` — the two-scale-validated rule from
      :func:`suggest_index_params`.
    * ``nprobe``: when the index is substantially UNDER-celled for its
      current size (``n_cells ≤ suggested/4`` — e.g. grown 10× by
      appends since build), each cell is so fat that partial probes cap
      recall on cell-boundary neighbors (ledger: nprobe=8/16 read 0.615
      at sf1); probe ALL cells — the exact work stays capped by
      ``rescore`` and ADC over fat cells is the flat-PQ scan the
      rescore rule was validated on (0.99 at N/20).  A right-sized
      index (cells ≈ 4√N) keeps the conventional ``cells/16`` probe.

    Pure driver arithmetic; callers feed the index's stored row and
    centroid counts.
    """
    if n_cells < 1:
        raise ValueError("n_cells must be positive")
    params = suggest_index_params(max(1, n_rows), k)
    if n_cells * 4 <= params["num_cells"]:
        nprobe = n_cells
    else:
        nprobe = min(n_cells, max(4, n_cells // 16))
    return {"nprobe": nprobe, "rescore": params["rescore"]}


# ---------------------------------------------------------------------------
# kNN-join — corpus × corpus k-nearest-neighbors through shared IVF
# cells (VERDICT r07 directive 7): the kNN-graph input for graph-based
# clustering / dedup.  Neither side is a "query batch" that broadcasts;
# BOTH sides shuffle once on the cell key and candidates are generated
# cell-locally — Σ_cells (probes∩cell × |cell|) work, never |L|×|R|.

def probe_cells(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """Each input row replicated once per its ``nprobe`` nearest cells:
    input columns + ``cell_id``.  The left-side expansion of
    :func:`knn_join` (and reusable for any batched multi-probe).

    Same kernel as :func:`ivf_assign` with p = ``nprobe``: one collect of
    the centroid table, then per Arrow batch one matmul + stable top-p
    (ties to the lowest cell_id).  An empty (or all-NULL) centroid table
    gives no rows.
    """
    return _top_p_map(df, centroids.collect(), vec_col, nprobe)


# Scale-safe knn_join defaults (VERDICT r09 directive 1): cells grow
# with the corpus at CONSTANT OCCUPANCY so the per-cell candidate work
# stays bounded — a fixed cell count makes the cell-local join output
# N²/cells (the ledgered exp-2.17 trap at 100k vectors, SF1_LEDGER
# knn_scaled.graph_fixed_cells).  Beyond KNN_TWO_LEVEL_CELLS cells the
# FLAT assign term (N × cells × d) is itself the quadratic at constant
# occupancy (ledger: flat exp 0.95 vs two-level 0.34 over 100k→500k,
# i.e. 781→3906 cells — two-level already wins at the 781-cell leg),
# so derivation auto-switches to the hierarchical √cells assign there.
KNN_CELL_OCCUPANCY = 128
KNN_TWO_LEVEL_CELLS = 512


def knn_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    num_cells: int | None = None,
    nprobe: int | None = 4,
    left_id_col: str | None = None,
    right_id_col: str | None = None,
    exclude_self: bool = False,
    refine_iters: int = 0,
    seed: int = 42,
    right_count: int | None = None,
    index_meta_path: str | None = None,
    coarse_cells: int | None = None,
    coarse_probe: int | None = None,
) -> DataFrame:
    """For EVERY left row, its ``k`` nearest right rows by cosine:
    (query_id, neighbor_id, rank, cosine) — `brute_force_topk`'s shape
    at corpus×corpus scale.

    :func:`brute_force_topk` broadcasts the query side, which caps it at
    a batch; here both sides may be the full corpus (the self kNN-graph
    that graph clustering / connected-component dedup consumes — pass
    the same frame twice with ``exclude_self=True``).  Plan: centroids
    train on the right (sampled, driver-bounded, collected ONCE for both
    sides); the right side assigns to its one nearest cell, the left
    replicates to its ``nprobe`` nearest cells (the :func:`ivf_assign` /
    :func:`probe_cells` kernel); ONE cogroup on cell_id scores each cell
    with the :func:`top_p` kernel (one numpy matmul, per-query top-k
    inside the kernel, so at most k rows per (query, probed cell) leave
    it); per-query top-k then goes through the skew-safe
    `plans.topk.top_n` rank (partial cut, then the final window).  No
    cartesian anywhere; at ``nprobe == num_cells`` the result is EXACT
    (every cell probed — equals :func:`brute_force_topk`, the JVM
    reference, test-asserted).

    ``num_cells=None`` (the DEFAULT) derives a constant-occupancy cell
    count (``ceil(N / KNN_CELL_OCCUPANCY)``, ~128 rows/cell) from the
    right-side count and auto-switches to the two-level assign
    (``coarse_cells ≈ √cells``) beyond ``KNN_TWO_LEVEL_CELLS`` cells —
    so a default invocation on a 10M-row corpus gets ~78k two-level
    cells, NOT a fixed-cell N²/cells explosion (the exp-2.17 trap the
    round-9 ledger measured at ``num_cells=16`` on 100k vectors).
    Pass ``coarse_cells=0`` to force the flat path, or an explicit
    ``num_cells`` to pin the geometry (no auto-switch then).

    ``nprobe=None`` derives the budget from the right-side count via
    :func:`derive_search_budget` — pass ``right_count`` (a known size)
    or ``index_meta_path`` (a stored index's one-row meta, see
    :func:`index_row_count`) to keep that derivation a constant-time
    read; only when neither is given does it fall back to a
    ``right.count()`` job (cheap on parquet footers, but a whole corpus
    job at 100 TB — the same one-file-read discipline the IVF query
    paths follow, VERDICT r08).  Approximation shape: a neighbor is
    findable iff it sits in one of its query's probed cells — the same
    contract as :func:`ivf_topk`, recall rises with nprobe.

    ``coarse_cells``: switch to TWO-LEVEL (hierarchical) cells — the
    production configuration beyond ~10⁵ cells, where the FLAT assign
    term (N × num_cells × d) itself becomes the quadratic at constant
    cell occupancy (measured: the `graph_linear_cells` leg of
    SF1_LEDGER's knn_scaled section).  The right side assigns through
    `semdedup.two_level_cells` (coarse √cells argmax, then a per-cell
    fine kernel: O(N·√cells·d) total); queries probe ``coarse_probe``
    coarse cells, rank the fine centroids inside them (the cogrouped
    :func:`top_p` kernel, per-coarse top-``nprobe``), and keep the global
    top-``nprobe`` fine cells via the skew-safe `plans.topk.top_n`.  At
    ``coarse_probe == coarse_cells`` and ``nprobe == num_cells`` every
    fine cell is probed — EXACT (test-asserted equal to the flat exact
    path).  A neighbor is findable iff its fine cell is probed AND that
    cell's coarse parent is among the query's ``coarse_probe`` coarse
    cells — recall rises with both knobs.

    ``coarse_probe=None`` (the DEFAULT) derives ``max(4, √nprobe)`` —
    balanced two-level probing, so the coarse breadth grows with the
    search budget instead of silently capping recall when a derived
    ``nprobe`` scales with the corpus.

    The geometry decision (flat or two-level, where ``right_count`` came
    from, and which of ``num_cells`` / ``coarse_cells`` / ``nprobe`` /
    ``coarse_probe`` were passed or derived) is logged once at INFO on
    the ``paradump_spark`` logger, with the inputs as a dict in
    ``record.args``.
    """
    lid = left_id_col or id_col
    rid = right_id_col or id_col
    passed = {
        "num_cells": num_cells, "coarse_cells": coarse_cells,
        "nprobe": nprobe, "coarse_probe": coarse_probe,
    }
    count_from = "passed" if right_count is not None else "not needed"
    if num_cells is None or nprobe is None:
        if right_count is None and index_meta_path is not None:
            right_count = index_row_count(right.sparkSession, index_meta_path)
            count_from = "index meta"
        if right_count is None:
            right_count = right.count()
            count_from = "count()"
    if num_cells is None:
        # constant-occupancy derivation (see KNN_CELL_OCCUPANCY above);
        # coarse_cells=None means AUTO here (two-level beyond the
        # threshold), pass coarse_cells=0 to force the flat path
        num_cells = max(4, -(-int(right_count) // KNN_CELL_OCCUPANCY))
        if coarse_cells is None and num_cells >= KNN_TWO_LEVEL_CELLS:
            coarse_cells = max(8, round(num_cells ** 0.5))
    if nprobe is None:
        nprobe = derive_search_budget(int(right_count), num_cells, k)["nprobe"]
    if coarse_probe is None:
        # recall-matched coarse breadth: a fine cell is reachable only
        # through its coarse parent, so a fixed coarse_probe silently
        # caps recall as the derived nprobe grows with the corpus.
        # √nprobe keeps the two-level probe tree balanced (probe ~√B
        # coarse cells × ~√B fine cells within them for a budget of B
        # fine cells) — the IMI/two-level convention; floor 4 preserves
        # the measured small-corpus behavior (SF1_LEDGER two_level_recall:
        # cp4 recovers most of the cp2 recall gap at nprobe 4-16).
        coarse_probe = max(4, round(nprobe ** 0.5))
    fine = None
    if coarse_cells:
        from paradump_spark.operators.semdedup import two_level_cells

        coarse_rows, fine, ca = two_level_cells(
            right.select(F.col(rid).alias("__rid"), F.col(vec_col)),
            "__rid", vec_col, num_cells, coarse_cells,
            refine_iters=refine_iters, fine_refine_iters=1, seed=seed,
        )
        fine = None if fine is None else fine.localCheckpoint(eager=True)
    chosen = {
        "num_cells": num_cells, "coarse_cells": coarse_cells or 0,
        "nprobe": nprobe, "coarse_probe": coarse_probe,
    }
    log.info(
        "knn_join %(path)s: num_cells=%(num_cells)s (%(num_cells_from)s), "
        "coarse_cells=%(coarse_cells)s (%(coarse_cells_from)s), "
        "nprobe=%(nprobe)s (%(nprobe_from)s), "
        "coarse_probe=%(coarse_probe)s (%(coarse_probe_from)s), "
        "right_count=%(right_count)s (%(right_count_from)s)",
        {
            # an empty corpus gives no fine table: the flat path runs
            "path": "flat" if fine is None else "two-level",
            "right_count": right_count, "right_count_from": count_from,
            **chosen,
            **{
                f"{name}_from": "derived" if passed[name] is None else "passed"
                for name in chosen
            },
        },
    )
    q_vec = F.col(vec_col).alias("__qv")
    if fine is not None:
        from paradump_spark.operators.semdedup import _fine_assign

        # right side: label every row with its FINE cell; the fine
        # cluster_id becomes the cell key (globally unique bigint)
        r = _fine_assign(ca, fine, vec_col).select(
            F.col("cluster_id").alias("cell_id"),
            F.col("__rid").alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
        )
        # queries: coarse probe (map-side kernel over the coarse rows
        # two_level_cells already collected) → per-coarse fine ranking
        # (cogrouped kernel) → global top-nprobe fine cells.
        # The ranking output is NARROW (no query vector): carrying the
        # vector replicates it ×nprobe as per-row Python lists — at 100k
        # queries × coarse_probe 4 × nprobe 4, 1.6M list materializations
        # plus their Arrow round-trip, measured as the dominant stage of
        # the sf5 knn leg (6.7 s of ~20 s, round 11).  The vector is
        # re-attached below with one keyed join instead.
        qc = _top_p_map(
            left.select(F.col(lid).alias("query_id"), F.col(vec_col)),
            coarse_rows, vec_col, coarse_probe,
        )
        q = _top_p_cogroup(
            qc, fine, vec_col, "cluster_id", "centroid", nprobe,
            StructType([
                qc.schema["query_id"],
                StructField("cell_id", LongType()),
                StructField("__fs", DoubleType()),
            ]),
            _emit_pairs("query_id", "cell_id", "__fs"),
        )
        q = top_n(
            q, ["query_id"],
            [F.col("__fs").desc(), F.col("cell_id").asc()], nprobe, "__fr",
        ).select("cell_id", "query_id")
        # re-attach the query vector with ONE keyed join: the join
        # shuffles each query vector once
        qvec = left.select(F.col(lid).alias("query_id"), q_vec)
        q = q.join(qvec, "query_id").select("cell_id", "query_id", "__qv")
    else:
        cents = ivf_centroids(right, rid, vec_col, num_cells, seed)
        if refine_iters:
            cents = kmeans_refine(
                right, cents, rid, vec_col, refine_iters, seed=seed
            )
        # ONE collect feeds both sides: the centroid sample is an
        # orderBy().limit() job over the right corpus
        rows = cents.collect()
        r = _top_p_map(right, rows, vec_col, 1).select(
            "cell_id", F.col(rid).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        )
        q = _top_p_map(
            left.select(F.col(lid).alias("query_id"), F.col(vec_col)),
            rows, vec_col, nprobe,
        ).select("cell_id", "query_id", q_vec)
    # Pin BOTH sides to an explicit cell_id partitioning: the cogroup's
    # INPUT is small (one row per vector) but its work grows with the
    # per-cell candidate count, so AQE's input-byte-based coalescing
    # otherwise shrinks the expensive scoring stage to 1-2 tasks
    # (observed at the 100k scaling leg: a 26-core box pinned at 1 CPU).
    # An explicit numPartitions repartition is exempt from coalescing,
    # and the cogroup reuses the co-partitioning — still ONE shuffle
    # per side.
    nparts = int(
        left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    q = q.repartition(nparts, "cell_id")
    r = r.repartition(nparts, "cell_id")
    scored = _top_p_cogroup(
        q, r, "__qv", "neighbor_id", "__cv", k,
        StructType([
            q.schema["query_id"],
            r.schema["neighbor_id"],
            StructField("cosine", DoubleType()),
        ]),
        _emit_pairs("query_id", "neighbor_id", "cosine"),
        exclude_key="query_id" if exclude_self else None,
    )
    return _neighbors(scored, k)


def knn_graph_clusters(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    k: int = 10,
    num_cells: int | None = None,
    nprobe: int | None = 4,
    refine_iters: int = 0,
    seed: int = 42,
    coarse_cells: int | None = None,
    coarse_probe: int | None = None,
) -> DataFrame:
    """Graph-based embedding clustering: the kNN graph thresholded on
    cosine, then connected components — every input row + ``component``
    (the smallest reachable id; rows with no neighbor above the
    threshold form singleton components).

    This is the pipeline SemDeDup's cluster blocking cannot express:
    two documents in DIFFERENT k-means cells still merge when a chain
    of ≥``threshold`` neighbors connects them (transitive near-dup
    families, mirror-site balls).  Composition of existing scale
    machinery: :func:`knn_join` (self, cell-pruned, never cartesian) →
    edge filter → `dedup.connected_components` (large-star/small-star,
    ≤ 2·log₂ n rounds).  Cost: the kNN-join plus CC over ≤ N·k edges —
    corpus-linear for constant k.

    Approximation contract: an edge is findable iff the neighbor sits
    in one of its query's probed cells (raise ``nprobe`` toward
    ``num_cells`` for exactness); components can only MERGE as nprobe
    grows, never split.

    ``coarse_cells``/``coarse_probe`` pass through to :func:`knn_join`'s
    hierarchical probe path — the configuration for cells ∝ N runs
    where the flat assign term would dominate (see knn_join docstring).
    ``num_cells=None`` (default) inherits knn_join's scale-safe
    constant-occupancy derivation with the two-level auto-switch.
    """
    from paradump_spark.operators.dedup import connected_components

    edges = knn_join(
        emb, emb, id_col, vec_col, k=k, num_cells=num_cells, nprobe=nprobe,
        exclude_self=True, refine_iters=refine_iters, seed=seed,
        coarse_cells=coarse_cells, coarse_probe=coarse_probe,
    ).where(F.col("cosine") > threshold).select(
        F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    # no vertices: the join below is a LEFT join + coalesce to id_col,
    # so labels for edge ids alone are sufficient — a neighborless row
    # coalesces to itself exactly as a self-labeled vertex would (and
    # under the driver-CC cap comp is then a local frame)
    comp = connected_components(edges)
    return emb.join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
