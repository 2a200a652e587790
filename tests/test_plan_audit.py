"""Systematic physical-plan audit over the ENTIRE declared query
surface: no row-at-a-time Python UDFs anywhere, Arrow-batched pandas
UDFs only where a numpy/bitmap kernel is the design (allowlisted), and
no non-broadcast cartesian product in any plan.

This is the guard that keeps "stay JVM-side" true as the surface grows:
a new query that silently falls back to BatchEvalPython or a cartesian
join fails here before it ships.
"""

import pytest

import __spark_entry__ as E

# queries whose DESIGN includes an Arrow-batched pandas UDF / Python
# stage (bitmap probe, Arrow feature extraction, PQ encode); everything
# else must be pure JVM
ARROW_ALLOWED = {
    "contamination_bloom",   # numpy bitmap membership probe
    "multimodal_features",   # Arrow-batched feature kernel
    "pq_topk",               # Arrow-batched PQ encode
    "ivf_topk",              # Arrow numpy top-p assign and query probe
    "pack_stats",            # stateful per-partition packer
    "embedding_near_dup_lsh",
    "embedding_cluster_report",  # Arrow numpy argmax in ivf_assign
    "ivf_topk_exact",        # Arrow numpy argmax in ivf_assign
    "pq_topk_exact",         # Arrow-batched PQ encode (same as pq_topk)
    "knn_join_exact",        # Arrow numpy argmax in ivf_assign/probe_cells
    "knn_join_two_level_exact",  # cogrouped fine-assign/probe kernels
    "knn_graph_components",  # same kNN-join machinery feeding CC
    "image_near_dup",        # Arrow-batched perceptual-hash kernel
    "audio_near_dup",        # Arrow-batched audio-fingerprint kernel
    "video_near_dup",        # Arrow-batched frame-signature kernel
    "audio_near_dup_robust",  # Arrow-batched sub-fingerprint kernel
    "video_near_dup_robust",  # Arrow-batched frame-hash-set kernel
}


# queries whose plan contains a GLOBAL (unpartitioned) window by design
# because its input is provably bounded before the window runs: a
# limit(k) head or a partial_topk cut (≤ n × partitions rows).  The
# centroid tables of the IVF searches are collected and probed map-side,
# so no centroid window is left in a plan.  Unbounded inputs must use
# plans/ranking.py (global_row_number / global_ntile) instead.
GLOBAL_WINDOW_ALLOWED = {
    "vocab_top_tokens",      # window over a limit(k) result
    "ann_topk",              # final rank over a partial_topk cut
    "pq_topk",               # final rank over a partial_topk cut
    "embedding_near_dup",    # pair rank over a bounded candidate set
    "embedding_near_dup_lsh",
}


def _plans(spark, sf_dir):
    for name, fn in {**E.queries(), **E.extra_queries()}.items():
        df = fn(spark, sf_dir)
        yield name, df._jdf.queryExecution().executedPlan().toString()


def _has_global_window(plan: str) -> bool:
    """A Window fed by an Exchange SinglePartition (directly or through
    its Sort child) is the one-task global-ordering cliff."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window" in line and "Exchange SinglePartition" in "\n".join(
            lines[i + 1 : i + 4]
        ):
            return True
    return False


def test_no_row_python_and_no_cartesian(spark, sf_dir):
    offenders = []
    for name, plan in _plans(spark, sf_dir):
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython (row-at-a-time Python)"))
        if "ArrowEvalPython" in plan and name not in ARROW_ALLOWED:
            offenders.append((name, "unexpected ArrowEvalPython"))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct (non-broadcast)"))
        if _has_global_window(plan) and name not in GLOBAL_WINDOW_ALLOWED:
            offenders.append((name, "global (single-partition) Window"))
    assert not offenders, offenders
