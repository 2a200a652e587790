"""Product quantization (PQ) — memory-side companion to the IVF index.

The reference engine has no vector search at all; this extends the
similarity family (`operators/similarity.py`) with the standard
100 TB-scale ANN storage design: each (unit-normalized) vector is split
into ``m`` subvectors and every subvector is replaced by the id of its
nearest codeword from a per-subspace codebook — ``m`` small ints instead
of ``4·d`` float bytes (64-d float32 → 8 codes: 32× smaller before
column encoding).  Queries score compressed codes with an
asymmetric-distance (ADC) lookup table and only the survivors are
re-scored exactly — the faiss IVF-PQ recipe, re-expressed Spark-first:

* training is driver-side numpy over a bounded hash-random sample (the
  same plan-time-collect class as `kmeans_refine`);
* encoding is one Arrow-batched pandas UDF pass (vector math over the
  whole batch, no per-row Python);
* ADC scoring is a PURE JVM expression: per-query lookup tables are
  broadcast as flat float arrays and the score is a codegen'd
  ``aggregate`` over the code positions — no UDF on the corpus-sized
  side and no shuffle in the scoring join itself (the LUTs broadcast);
* candidate selection is the skew-safe two-stage rank
  (`plans.topk.top_n`): the scored rows shuffle ONCE on
  ``(input partition, query)`` — keys that spread every query over all
  partitions — and the global per-query ranking then touches only
  ``rescore × partitions`` rows per query, never the full scored
  product through one task;
* exact re-scoring touches only ``rescore`` candidate rows per query.

The cell probe, the final rank and the stored index layout are
`operators.similarity`'s (see its module docstring); this module adds
the codes, the LUTs and the ADC score.
"""

# NB: no `from __future__ import annotations` here — the pandas-UDF type
# hints must stay live objects for PySpark's eval-type inference.
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paradump_spark.functions import vectors as V
from paradump_spark.operators import similarity as SIM
from paradump_spark.plans.topk import top_n


@dataclass
class PQCodebooks:
    """``centroids[s][j]`` = codeword ``j`` of subspace ``s`` (numpy
    (m, ksub, dsub) float64).  Trained on unit-normalized vectors so
    dot(query, reconstruction) approximates cosine.

    ``rotation``: optional orthogonal (d, d) OPQ matrix (Ge et al.
    CVPR'13).  Codes then quantize ``x·R`` instead of ``x``; because R
    is orthogonal, ``(q·R)·(x·R) = q·x``, so ADC stays a plain LUT sum —
    queries are rotated once driver-side, vectors once inside the
    Arrow encode batch, and the exact re-score on raw vectors is
    untouched."""

    centroids: "object"  # np.ndarray (m, ksub, dsub)
    rotation: "object" = None  # np.ndarray (d, d) orthogonal, or None

    @property
    def m(self) -> int:
        return self.centroids.shape[0]

    @property
    def ksub(self) -> int:
        return self.centroids.shape[1]

    @property
    def dsub(self) -> int:
        return self.centroids.shape[2]


def _kmeans_subspaces(X, m: int, ksub: int, iters: int) -> "object":
    """Per-subspace L2 k-means over the (n, d) training matrix; returns
    the (m, k, dsub) codebook tensor.  Deterministic init: first k
    sample subvectors."""
    import numpy as np

    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    k = min(ksub, n)
    books = np.empty((m, k, dsub))
    cluster_ids = np.arange(k)
    for s in range(m):
        S = X[:, s * dsub : (s + 1) * dsub]
        C = S[:k].copy()
        # ||s||^2 is invariant across iterations — hoist it (bit-equal:
        # same operands, same op, just computed once)
        sn = (S * S).sum(1)[:, None]
        for _ in range(iters):
            # squared L2 via ||s||^2 - 2 s·c + ||c||^2 (argmin over c)
            d2 = sn - 2.0 * (S @ C.T) + (C * C).sum(1)[None, :]
            assign = np.argmin(d2, axis=1)
            # group members by STABLE argsort instead of k boolean-mask
            # scans (O(n log n) vs O(n·k)); within a group the stable
            # order is the original row order, so each slice is the
            # exact array the mask produced and the means are
            # bit-identical (pytest-asserted vs the mask formulation)
            order = np.argsort(assign, kind="stable")
            sorted_assign = assign[order]
            starts = np.searchsorted(sorted_assign, cluster_ids, side="left")
            ends = np.searchsorted(sorted_assign, cluster_ids, side="right")
            So = S[order]
            for j in range(k):
                if ends[j] > starts[j]:  # empty cell keeps its codeword
                    C[j] = So[starts[j] : ends[j]].mean(axis=0)
        books[s] = C
    return books


def _reconstruct(Xr, books):
    """Encode-then-decode ``Xr`` (already in the rotated space) against
    the codebook tensor — the quantized approximation OPQ's Procrustes
    step aligns the rotation to."""
    import numpy as np

    m, k, dsub = books.shape
    out = np.empty_like(Xr)
    for s in range(m):
        S = Xr[:, s * dsub : (s + 1) * dsub]
        d2 = -2.0 * (S @ books[s].T) + (books[s] * books[s]).sum(1)[None, :]
        out[:, s * dsub : (s + 1) * dsub] = books[s][np.argmin(d2, axis=1)]
    return out


def _learn_opq(X, m, ksub, iters, opq_iters):
    """OPQ-NP (Ge et al. CVPR'13, non-parametric): alternate k-means
    codebooks in the rotated space with the orthogonal-Procrustes update
    ``R = U Vᵀ`` of ``SVD(Xᵀ X̂)``.  Deterministic (no randomness
    anywhere); returns ``(books, R)`` with codebooks trained on ``X R``.
    """
    import numpy as np

    d = X.shape[1]
    R = np.eye(d)
    books = _kmeans_subspaces(X, m, ksub, iters)
    for _ in range(opq_iters):
        Xr = X @ R
        books = _kmeans_subspaces(Xr, m, ksub, iters)
        Xhat = _reconstruct(Xr, books)
        U, _, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    if opq_iters:
        books = _kmeans_subspaces(X @ R, m, ksub, iters)
    return books, (R if opq_iters else None)


def _train_sample(corpus, id_col, vec_col, train_cap, seed):
    """Bounded hash-random sample of unit-normalized vectors
    (deterministic: smallest md5(id), like `similarity.ivf_centroids` /
    `kmeans_refine`) as an (n, d) float64 matrix."""
    import numpy as np

    key = F.md5(F.concat(F.lit(f"pq{seed}|"), F.col(id_col).cast("string")))
    rows = (
        corpus.select(V.normalized(F.col(vec_col)).alias("v"), key.alias("__k"))
        .orderBy("__k")
        .limit(train_cap)
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=np.float64)


def train_pq(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ksub: int = 256,
    train_cap: int = 4096,
    iters: int = 8,
    seed: int = 42,
    opq_iters: int = 0,
) -> PQCodebooks:
    """Train codebooks on raw unit-normalized vectors (flat PQ).

    ``opq_iters > 0`` additionally learns the OPQ rotation (see
    :class:`PQCodebooks`); 5–10 alternations are the published
    sweet spot."""
    books, R = _learn_opq(
        _train_sample(corpus, id_col, vec_col, train_cap, seed),
        m, ksub, iters, opq_iters,
    )
    return PQCodebooks(books, R)


def train_pq_residual(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ksub: int = 256,
    train_cap: int = 4096,
    iters: int = 8,
    seed: int = 42,
    opq_iters: int = 0,
) -> PQCodebooks:
    """Train codebooks on IVF RESIDUALS — the faiss IVFPQ refinement.

    Residual = normalized(x) − normalized(centroid(cell(x))): within a
    cell the residuals are tightly clustered around 0, so the same code
    budget quantizes them far more finely than the raw vectors, lifting
    recall at equal ``rescore``.  Assignment mirrors
    `similarity.ivf_assign` (argmax cosine, ties to the lowest cell id);
    the sample is the same bounded hash-random set `train_pq` uses.
    """
    import numpy as np

    X = _train_sample(corpus, id_col, vec_col, train_cap, seed)
    cents = sorted(centroids.collect(), key=lambda r: r["cell_id"])
    Cn = SIM._unit(np.array([r["centroid"] for r in cents], dtype=np.float64))
    assign = SIM.top_p(X, Cn, 1)[0][:, 0]  # ties -> lowest cell id
    resid = X - Cn[assign]
    books, rot = _learn_opq(resid, m, ksub, iters, opq_iters)
    return PQCodebooks(books, rot)


def pq_encode(
    df: DataFrame,
    vec_col: str,
    books: PQCodebooks,
    code_col: str = "pq_code",
    normalize: bool = True,
) -> DataFrame:
    """Append ``code_col``: array<int> of length ``m`` — each vector's
    per-subspace nearest-codeword ids (computed over the unit-normalized
    vector, matching training; ``normalize=False`` when ``vec_col``
    already holds residuals, which must NOT be re-normalized).  One
    Arrow-batched pandas UDF; all math is whole-batch numpy."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = books.centroids  # closure-captured; broadcast with the task
    R = books.rotation
    m, k, dsub = C.shape
    cnorm2 = [(C[s] * C[s]).sum(1) for s in range(m)]

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vs) == 0:  # empty partitions yield empty Arrow batches
            return pd.Series([], dtype=object)
        X = np.array(vs.tolist(), dtype=np.float64)
        if normalize:
            norms = np.linalg.norm(X, axis=1, keepdims=True)
            X = X / np.where(norms == 0.0, 1.0, norms)
        if R is not None:  # OPQ: quantize in the rotated space
            X = X @ R
        codes = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            S = X[:, s * dsub : (s + 1) * dsub]
            d2 = -2.0 * (S @ C[s].T) + cnorm2[s][None, :]
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return df.withColumn(code_col, encode(F.col(vec_col)))


def query_luts(queries, qid_col, vec_col, books: PQCodebooks):
    """(query_id, __lut) frame — per-query flat ADC table:
    lut[s*ksub + j] = q_sub(s) · codeword(s,j), so
    Σ_s lut[s*ksub + code_s] ≈ cosine(q, vector) for unit vectors.

    Computed DISTRIBUTED (Arrow-batched over the query side; the
    codebooks ride in the UDF closure — m·ksub·dsub doubles, a few MB)
    so a million-query batch never materializes on the driver.  The
    CALLER decides whether the result is small enough to broadcast into
    the scoring join (`max_broadcast_queries` gates in
    :func:`pq_adc_topk` / :func:`ivf_pq_query_index`).

    A query whose vector is NULL or not ``m·dsub`` wide gets no row, so
    its search finds no rows instead of failing the job.
    """
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    C = books.centroids
    R = books.rotation
    m, k, dsub = C.shape

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def lut(vs: pd.Series) -> pd.Series:
        import numpy as np

        ok, X = SIM._stack(vs, m * dsub)
        X = SIM._unit(X)
        if R is not None:
            # (q·R)·(x·R) = q·x for orthogonal R — rotate the query once
            X = X @ R
        out = [None] * len(vs)
        for i, row in zip(
            np.flatnonzero(ok),
            np.concatenate(
                [X[:, s * dsub : (s + 1) * dsub] @ C[s].T for s in range(m)],
                axis=1,
            ),
        ):
            out[i] = row
        return pd.Series(out, dtype=object)

    # nondeterministic only so the NULL filter is not pushed below the
    # projection as a second evaluation of the UDF (see
    # `similarity._top_p_map`); the values are deterministic
    return queries.select(
        F.col(qid_col).alias("query_id"),
        lut.asNondeterministic()(F.col(vec_col)).alias("__lut"),
    ).where(F.col("__lut").isNotNull())


def _adc_score(books: PQCodebooks, code_col: str):
    """Each scored row's ADC score: a fold over the ``m`` code
    positions, reading the ``__lut`` slot of each code —
    aggregate+element_at are codegen'd JVM expressions."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(books.m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("__lut"),
            s * books.ksub + F.element_at(F.col(code_col), s + 1) + 1,
        ),
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    books: PQCodebooks,
    id_col: str,
    vec_col: str,
    k: int = 10,
    rescore: int | None = None,
    code_col: str = "pq_code",
    query_id_col: str | None = None,
    max_broadcast_queries: int = 65536,
) -> DataFrame:
    """Two-stage PQ search: ADC-score every code against each query's
    lookup table (pure codegen expression over the corpus side), keep
    ``rescore`` candidates per query, re-score those few exactly on the
    raw vectors, return the top ``k``.

    ``rescore=None`` (the default) scales the exact-rescore budget with
    the corpus — ``max(10k, N/20)``, the two-scale-validated rule in
    `similarity.suggest_index_params` (fixed budgets silently lose
    recall as the corpus grows: 0.953→0.749 measured at 10×; VERDICT
    r06 directive 4).

    Query-side scale: LUTs are computed distributed (:func:`query_luts`
    — never a driver collect).  Up to ``max_broadcast_queries`` they
    broadcast into the scoring join (map-side, zero shuffle on the
    corpus); past the bound — a million-query batch — the join degrades
    to Spark's blocked nested-loop (each corpus partition streams each
    query partition once) and the exact re-score becomes a shuffle
    equi-join on query_id.  The Q×N score work is inherent to flat-PQ
    search; for huge Q prefer the IVF-pruned :func:`ivf_pq_search`.

    Output: (query_id, neighbor_id, rank, cosine) — the
    `similarity.brute_force_topk` shape, so `ann_recall` composes.
    """
    qid = query_id_col or id_col
    # single materialization of the projected query frame: the broadcast
    # gate's count, the LUTs, and the exact re-score all derive from it —
    # a nondeterministic query source (limit/sample without ordering)
    # cannot diverge between the three uses, and the gate no longer
    # triggers a full recomputation of the source (ADVICE r05)
    qsrc = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col)
    ).localCheckpoint(eager=True)
    broadcast_q = qsrc.count() <= max_broadcast_queries
    if rescore is None:
        rescore = max(10 * k, codes.count() // 20)
    luts = query_luts(qsrc, "query_id", vec_col, books)
    if broadcast_q:
        # materialize the (small) LUT frame so the broadcast holds plain
        # rows and the search plan stays pure JVM — the Arrow stage runs
        # once here, never against the corpus side
        luts = F.broadcast(luts.localCheckpoint(eager=True))
    scored = (
        codes.select(F.col(id_col).alias("neighbor_id"), code_col, vec_col)
        .crossJoin(luts)
        .withColumn("__adc", _adc_score(books, code_col))
        # project the LUT array (and the spent code) OUT before the
        # candidate-cut windows: each lut row is ksub·m doubles (16 KB
        # at 8×256) and the two ranking exchanges below would otherwise
        # shuffle it per scored row — ~97% of the window-stage shuffle
        # bytes at the bench geometry (round 11; guide §2.3 "project
        # before the exchange").  __adc is already computed; nothing
        # downstream reads __lut or the code.
        .select("query_id", "neighbor_id", vec_col, "__adc")
    )
    return _rescore(scored, qsrc, vec_col, k, rescore, broadcast_q)


def _rescore(scored, qsrc, vec_col, k, rescore, broadcast_q) -> DataFrame:
    """The two PQ search stages after ADC: keep each query's ``rescore``
    best (query_id, neighbor_id, ``vec_col``, __adc) rows (skew-safe
    `plans.topk.top_n`; the neighbor_id tiebreak makes the order
    total), re-score those few exactly on the raw vectors, and return
    the top ``k`` in the public shape.  The exact rank is one window:
    its input is already ≤ ``rescore`` rows per query."""
    cands = top_n(
        scored,
        ["query_id"],
        [F.col("__adc").desc(), F.col("neighbor_id").asc()],
        rescore,
        "__r",
    ).drop("__r", "__adc")
    q = qsrc.select("query_id", V.normalized(F.col(vec_col)).alias("__qn"))
    if broadcast_q:
        q = F.broadcast(q)
    exact = cands.join(q, "query_id").select(
        "query_id",
        "neighbor_id",
        V.dot(F.col("__qn"), V.normalized(F.col(vec_col))).alias("cosine"),
    )
    return SIM._neighbors(exact, k, bounded=True)


# --------------------------------------------------------------------------
# IVF + PQ: the composed faiss-style index — coarse cells prune the scan
# (partition pruning), PQ codes compress what remains, ADC scores it, and
# only the survivors touch raw vectors.

def save_codebooks(spark, books: PQCodebooks, path: str) -> None:
    """Persist codebooks as (subspace, code, centroid) rows next to the
    index so probes can run in a fresh session."""
    import numpy as np  # noqa: F401

    C = books.centroids
    rows = [
        (int(s), int(j), [float(x) for x in C[s, j]])
        for s in range(books.m)
        for j in range(books.ksub)
    ]
    if books.rotation is not None:
        # OPQ rotation rides along as subspace -1 rows (code = row index)
        rows += [
            (-1, int(i), [float(x) for x in books.rotation[i]])
            for i in range(books.rotation.shape[0])
        ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(path)


def load_codebooks(spark, path: str) -> PQCodebooks:
    import numpy as np

    rows = spark.read.parquet(path).collect()
    rot_rows = [r for r in rows if r["subspace"] == -1]
    rows = [r for r in rows if r["subspace"] >= 0]
    m = max(r["subspace"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    C = np.empty((m, k, dsub))
    for r in rows:
        C[r["subspace"], r["code"]] = r["centroid"]
    R = None
    if rot_rows:
        d = len(rot_rows)
        R = np.empty((d, d))
        for r in rot_rows:
            R[r["code"]] = r["centroid"]
    return PQCodebooks(C, R)


def ivf_pq_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    num_cells: int = 16,
    m: int = 8,
    ksub: int = 256,
    refine_iters: int = 2,
    train_cap: int = 4096,
    seed: int = 42,
    residual: bool = False,
    opq_iters: int = 0,
) -> PQCodebooks:
    """Materialize the composed index: corpus rows + their PQ codes,
    written ``partitionBy(cell_id)`` (cell layout and training both reuse
    the IVF machinery in `operators.similarity`); codebooks, centroids
    and an index-meta marker stored alongside.  One full-corpus pass
    total (assign + encode fuse into the same write job).

    ``residual=True`` is the faiss IVFPQ refinement: codes quantize
    ``normalized(x) − normalized(centroid)`` instead of the raw vector
    (see :func:`train_pq_residual`); the residual is a pure JVM
    ``zip_with`` over the broadcast centroid join — same single pass.
    """
    cents = SIM.ivf_centroids(corpus, id_col, vec_col, num_cells, seed)
    if refine_iters:
        cents = SIM.kmeans_refine(
            corpus, cents, id_col, vec_col, refine_iters,
            train_cap=train_cap, seed=seed,
        )
    train = dict(
        m=m, ksub=ksub, train_cap=train_cap, seed=seed, opq_iters=opq_iters
    )
    if residual:
        books = train_pq_residual(corpus, cents, id_col, vec_col, **train)
    else:
        books = train_pq(corpus, id_col, vec_col, **train)
    assigned = SIM.ivf_assign(corpus, cents, id_col, vec_col)
    n_rows = SIM._write_cells(
        _encode_cells(assigned, cents, vec_col, books, residual), path
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    save_codebooks(corpus.sparkSession, books, f"{path}/pq_codebooks")
    SIM.write_index_meta(corpus.sparkSession, path, n_rows=n_rows, residual=residual)
    return books


def _encode_cells(
    assigned: DataFrame,
    cents: DataFrame,
    vec_col: str,
    books: PQCodebooks,
    residual: bool,
    code_col: str = "pq_code",
) -> DataFrame:
    """``assigned`` (rows + ``cell_id``) + ``code_col``.  Flat codes
    quantize the vector; residual codes quantize ``normalized(vec) −
    normalized(centroid of its cell)`` (see :func:`train_pq_residual`),
    a pure JVM ``zip_with`` over a broadcast join with ``cents``."""
    if not residual:
        return pq_encode(assigned, vec_col, books, code_col=code_col)
    cn = F.broadcast(
        cents.select("cell_id", V.normalized(F.col("centroid")).alias("__cn"))
    )
    with_resid = assigned.join(cn, "cell_id").withColumn(
        "__resid",
        F.zip_with(V.normalized(F.col(vec_col)), F.col("__cn"), lambda a, b: a - b),
    )
    return pq_encode(
        with_resid, "__resid", books, code_col=code_col, normalize=False
    ).drop("__resid", "__cn")


def ivf_pq_append_index(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str,
    vec_col: str,
    code_col: str = "pq_code",
) -> None:
    """Incrementally add vectors to a materialized IVF-PQ index:
    centroids AND codebooks are frozen (faiss's add-after-train
    contract), so existing codes stay valid; new vectors assign to
    their nearest existing cell, encode with the stored codebooks
    (residual or flat per the index-meta marker), and append into the
    same ``cell_id=`` partition layout — one map-shaped pass over the
    NEW data only, never a rebuild.  Exactness at full probe/rescore is
    unaffected (the final stage re-scores true cosine on raw vectors).
    """
    cents = spark.read.parquet(f"{path}/centroids")
    books = load_codebooks(spark, f"{path}/pq_codebooks")
    residual = SIM._index_meta(spark, path)[0]  # legacy layout: flat codes
    assigned = SIM.ivf_assign(new_corpus, cents, id_col, vec_col)
    encoded = _encode_cells(assigned, cents, vec_col, books, residual, code_col)
    SIM._bump_index_meta(spark, path, SIM._write_cells(encoded, path, "append"))


def ivf_pq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int | None = None,
    rescore: int | None = None,
    query_id_col: str | None = None,
    code_col: str = "pq_code",
    max_broadcast_queries: int = 65536,
) -> DataFrame:
    """Search the composed index: nprobe cell pruning (PartitionFilters
    on the scan) → ADC over the probed cells' codes (codegen aggregate
    against each query's LUT) → exact re-score of ``rescore`` candidates
    on the stored raw vectors.  Output shape composes with
    `similarity.ann_recall`.

    ``nprobe=None`` / ``rescore=None`` (the defaults) derive the search
    budget from the index's CURRENT row/cell counts
    (`similarity.derive_search_budget`), so an index grown by appends
    keeps its recall instead of silently searching at build-time
    budgets (VERDICT r06 directive 4; the sf1 ledger measured the fixed
    budgets' recall@10 at 0.615, the scaled ones at 0.92–0.99).

    Query-side scale: LUTs are computed distributed (:func:`query_luts`)
    and the (probes ⋈ luts) side broadcasts only up to
    ``max_broadcast_queries``; past that the scoring join becomes a
    shuffle equi-join on ``cell_id`` — the cell id is the blocking key,
    so a million-query batch co-partitions with the probed corpus cells
    instead of collecting on the driver or overflowing a broadcast.

    Each query's ``nprobe`` cells come from the map-side top-p kernel
    over the collected centroid table, as in
    `similarity.ivf_query_index`.  A query whose vector is NULL or not
    as wide as the centroids gets no rows; it never fails the search."""
    qid = query_id_col or id_col
    books = load_codebooks(spark, f"{path}/pq_codebooks")
    cents = spark.read.parquet(f"{path}/centroids")
    rows = cents.collect()
    if nprobe is None or rescore is None:
        budget = SIM.derive_search_budget(
            SIM.index_row_count(spark, path), len(rows), k
        )
        nprobe = budget["nprobe"] if nprobe is None else nprobe
        rescore = budget["rescore"] if rescore is None else rescore
    # one materialization feeds count gate, cell probes, LUTs, and the
    # exact re-score — see pq_adc_topk (ADVICE r05)
    qsrc = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col)
    ).localCheckpoint(eager=True)
    broadcast_q = qsrc.count() <= max_broadcast_queries
    probes = SIM._probe(qsrc, "query_id", vec_col, rows, nprobe)
    corpus = spark.read.parquet(f"{path}/corpus").where(
        F.col("cell_id").isin(SIM._probed_cells(probes))
    )
    adc = _adc_score(books, code_col)
    if SIM._index_meta(spark, path)[0]:
        # residual codes: score = q·ĉ(cell) + q·r̂ (the LUT part); the
        # per-(query, cell) offset is the JVM cosine of the query and its
        # probed centroid
        probes = probes.join(F.broadcast(cents), "cell_id").select(
            "query_id",
            "cell_id",
            V.cosine(F.col("__qv"), F.col("centroid")).alias("__coff"),
        )
        adc = adc + F.col("__coff")
    else:
        probes = probes.select("query_id", "cell_id")
    luts = query_luts(qsrc, "query_id", vec_col, books)
    if broadcast_q:
        # see pq_adc_topk: broadcast plain rows, keep the probe plan JVM
        luts = luts.localCheckpoint(eager=True)
    plan = probes.join(luts, "query_id")
    if broadcast_q:
        plan = F.broadcast(plan)
    # the LUT array and the spent code are projected OUT before the
    # candidate cut (same fix as pq_adc_topk: the lut is ksub·m doubles
    # per row and nothing downstream reads it)
    scored = plan.join(corpus, "cell_id").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        vec_col,
        adc.alias("__adc"),
    )
    return _rescore(scored, qsrc, vec_col, k, rescore, broadcast_q)
