"""Per-query Spark job-count / shuffle-bytes observability (VERDICT r11
directive 8): wrap a timed callable in a job group and read the counts
back from the AppStatusStore — the same store the UI/REST API serve, but
available with ``spark.ui.enabled=false`` too.

Why a store read and not a listener: PySpark cannot register a
SparkListener without shipping a JVM class; the status store is already
maintained by AppStatusListener for every application, so reading it
adds zero overhead to the timed region.

Used by tools/r12_media_probe.py (per-query job counts and shuffle
bytes for the media dedup steps), by the tests that pin job and scan
counts (tests/test_job_budget.py, tests/test_dump_sync.py,
tests/test_sql_framing.py) and for ad-hoc step profiling; no bench.py
row reads it.
"""

from __future__ import annotations


def job_group_stats(spark, group: str) -> dict:
    """Job count + shuffle bytes for every job submitted under
    ``group`` (``sc.setJobGroup``/``setLocalProperty('spark.jobGroup.id')``).

    Returns ``{"jobs": int, "shuffle_write": int, "shuffle_read": int,
    "file_scans": int}``.  Shuffle bytes are summed over the DISTINCT
    stages of those jobs (a stage shared by two jobs — skipped/reused
    exchanges — counts once).  ``file_scans`` counts the stages that ran
    (not skipped) and read files: a ``FileScanRDD`` in their RDD graph.
    Reads of pinned blocks are not file scans.  The AppStatusListener
    fills the store asynchronously, so the listener bus is drained first
    (up to 10 s) — a job that just
    finished is otherwise missed or half-counted.  Never raises: on any
    py4j/store surprise it returns -1 markers so a caller's run is never
    sunk by its observability.
    """
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                n_jobs += 1
                sids = j.stageIds()
                for k in range(sids.size()):
                    stage_ids.add(sids.apply(k))
        sread = swrite = scans = 0
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 — skipped stage, no attempt data
                continue
            swrite += s.shuffleWriteBytes()
            sread += s.shuffleReadBytes()
            if s.status().toString() == "COMPLETE" and "FileScanRDD" in _rdd_names(
                store.operationGraphForStage(int(sid)).rootCluster()
            ):
                scans += 1
        return {"jobs": n_jobs, "shuffle_write": int(swrite),
                "shuffle_read": int(sread), "file_scans": scans}
    except Exception:  # noqa: BLE001 — observability must never sink a run
        return {"jobs": -1, "shuffle_write": -1, "shuffle_read": -1,
                "file_scans": -1}


def _rdd_names(cluster) -> list[str]:
    """Names of the RDDs in a stage's operation-graph cluster, nested
    clusters included."""
    nodes, clusters = cluster.childNodes(), cluster.childClusters()
    names = [nodes.apply(i).name() for i in range(nodes.size())]
    for i in range(clusters.size()):
        names += _rdd_names(clusters.apply(i))
    return names


class job_group:
    """Context manager: run the body under a job group id, then expose
    ``.stats`` (see :func:`job_group_stats`).

    >>> with job_group(spark, "bench_q1") as jg:
    ...     df.count()
    >>> jg.stats["jobs"]
    """

    def __init__(self, spark, group: str):
        self._spark = spark
        self._group = group
        self.stats: dict = {}

    def __enter__(self):
        self._spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", self._group
        )
        return self

    def __exit__(self, *exc):
        self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.stats = job_group_stats(self._spark, self._group)
        return False
