#!/usr/bin/env python
"""Scale evidence for the kNN-join / kNN-graph family (VERDICT r08
directive 5: the newest machinery had the least scale evidence).

Times the REAL operators (the one numpy scoring kernel, not a
stand-in) at growing corpus sizes with FIXED search budgets, so the
log-log slope isolates the corpus term:

* kNN-join leg — a 2,000-row query batch against the 100k
  (scratch/sf5_emb) and 500k (scratch/sf25_emb, tools/gen_sf.py
  --emb-only) corpora; num_cells=256, nprobe=4, k=10.  Scored-pair
  count is |Q| x nprobe x N/num_cells — linear in N by construction;
  the measurement checks the plan actually delivers that (no hidden
  quadratic, no skew collapse).
* kNN-graph legs — the SELF-join (every row a query) + connected
  components at 20k (scratch/sf1) and 100k, in THREE cell policies
  whose scored-pair count N x nprobe x N/cells makes the scaling law
  explicit: fixed cells (256 -> 256; candidates grow N²/cells —
  quadratic, the trap), sqrt-scaled cells (141 -> 316, the faiss
  query-latency guideline; N^1.5), and CONSTANT-OCCUPANCY cells
  (256 -> 1282, ~78 rows/cell at both scales; linear — the same rule
  as SemDeDup's auto-k = N/cluster_size, and the configuration a
  100 TB self-graph run actually uses).  Shared (dataset, cells)
  points are measured once and reused across policies.

Round-10 additions: the two-level policy extends one decade to 500k
(scratch/sf25_emb); a DEFAULT-invocation self-join leg (num_cells /
coarse_cells unset — the operator's constant-occupancy derivation) at
100k->500k proves the default is the scale-safe configuration; and a
two-level recall@10 curve vs (coarse_probe, nprobe) alongside the
flat-path curve at the same cell geometry quantifies the hierarchical
probe's recall cost (a neighbor needs its coarse parent probed too).

Appends a "knn_scaled" section to SF1_LEDGER.json (bench_scaling.py
carries it forward across refreshes).  Each pass is gated on 1-min
load < 0.7; per-point times are the median of 3 warmed runs.

Usage:  python tools/knn_scaling.py [ledger_json] [--recall-only|--default-2m]

``--recall-only``: refresh just the ``two_level_recall`` subsection
(including the full-default ``default_derived`` point) without
re-timing the latency legs.

``--default-2m`` (round 11): extend the default-invocation self-join
leg and its ``default_derived`` recall point one decade to 2M vectors
(scratch/sf100_emb) without re-timing the other legs.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from paradump_spark.operators import similarity as SIM  # noqa: E402
from paradump_spark.session import build_session  # noqa: E402


def wait_quiet(threshold: float = 0.7, max_wait: int = 1200) -> float:
    waited = 0.0
    while waited < max_wait:
        with open("/proc/loadavg") as fh:
            load = float(fh.read().split()[0])
        if load < threshold:
            return load
        time.sleep(15)
        waited += 15
    return load


def timed(fn, runs: int = 3) -> float:
    """Median of ``runs`` timed executions, after one warmup."""
    fn()
    ts = []
    for _ in range(runs):
        t0 = time.monotonic()
        fn()
        ts.append(time.monotonic() - t0)
    return round(statistics.median(ts), 3)


def main() -> None:
    ledger_path = (
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "SF1_LEDGER.json")
    )
    spark = build_session(
        app_name="knn_scaling", master="local[32]", shuffle_partitions=32,
        # the corpora are single ~25-130 MB parquet files: default 128 MB
        # splits would scan them at 1-2 task parallelism and serialize
        # the normalize/assign map side (same reason bench.py sets this)
        extra_conf={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)},
    )
    sec: dict = {"params": {
        "join": {"queries": 2000, "k": 10, "num_cells": 256, "nprobe": 4},
        "graph": {"k": 5, "nprobe": 2, "threshold": 0.9,
                  "cell_policies": {
                      "graph_fixed_cells": "256 at both scales (the N^2/cells trap)",
                      "graph_sqrt_cells": "round(sqrt(N)) (faiss guideline; N^1.5)",
                      "graph_linear_cells": "N/78 constant occupancy (linear; the 100 TB rule)",
                  }},
        "runs": "median-of-3 after warmup, load-gated < 0.7",
    }}

    # ---- kNN-join: fixed 2k-query batch, corpus 100k -> 500k ----
    join_pts = {}
    for name, d in (("100k", "scratch/sf5_emb"), ("500k", "scratch/sf25_emb")):
        print(f"join leg {name}: load {wait_quiet():.2f}")
        emb = spark.read.parquet(os.path.join(REPO, d, "embeddings.parquet"))
        q = emb.where(F.col("vec_id") < 2000)

        def run():
            SIM.knn_join(
                q, emb, "vec_id", "embedding", k=10,
                num_cells=256, nprobe=4,
            ).agg(F.count(F.lit(1))).collect()

        join_pts[name] = timed(run)
        print(f"  {join_pts[name]}s")
    sec["join"] = {
        **join_pts,
        "corpus_ratio": 5.0,
        "time_ratio": round(join_pts["500k"] / join_pts["100k"], 2),
        "exp": round(
            math.log(max(join_pts["500k"] / join_pts["100k"], 1e-9))
            / math.log(5), 2,
        ),
    }

    # ---- kNN-graph self-join + CC: 20k -> 100k, four cell policies ----
    # (cells_fn, coarse_fn): coarse_fn=None is the flat assign;
    # graph_two_level_cells is the PRODUCTION configuration for the
    # constant-occupancy rule — same cell count as graph_linear_cells
    # but assigned hierarchically (coarse √cells argmax + per-cell fine
    # kernel), so the flat N × cells × d assign term — the measured
    # quadratic in the linear-cells leg — drops to N × O(√cells) × d.
    policies = {
        "graph_fixed_cells": (lambda n: 256, None),
        "graph_sqrt_cells": (lambda n: round(math.sqrt(n)), None),
        "graph_linear_cells": (lambda n: max(16, round(n / 78)), None),
        "graph_two_level_cells": (
            lambda n: max(16, round(n / 78)),
            lambda c: max(8, round(math.sqrt(c))),
        ),
    }
    # which scale points each policy ledgers: the two-level policy (the
    # production configuration) extends one decade further to 500k
    # (VERDICT r09 directive 7); the deliberate-trap policies stay at
    # 20k->100k — the fixed-cells leg is quadratic BY DESIGN and
    # re-measuring it at 500k would burn ~an hour documenting a known
    # trap.
    policy_points = {
        "graph_two_level_cells": (
            ("20k", "scratch/sf1", 20_000),
            ("100k", "scratch/sf5_emb", 100_000),
            ("500k", "scratch/sf25_emb", 500_000),
        ),
    }
    default_points = (("20k", "scratch/sf1", 20_000),
                      ("100k", "scratch/sf5_emb", 100_000))
    cache: dict[tuple, float] = {}
    for key, (cells, coarse_of) in policies.items():
        pts = {}
        for name, d, n in policy_points.get(key, default_points):
            c = cells(n)
            cc = coarse_of(c) if coarse_of else None
            if (name, c, cc) not in cache:
                print(f"graph leg {name} (cells={c}, coarse={cc}): "
                      f"load {wait_quiet():.2f}")
                emb = spark.read.parquet(
                    os.path.join(REPO, d, "embeddings.parquet")
                )

                def run(emb=emb, c=c, cc=cc):
                    SIM.knn_graph_clusters(
                        emb, "vec_id", "embedding", threshold=0.9, k=5,
                        num_cells=c, nprobe=2,
                        coarse_cells=cc, coarse_probe=2,
                    ).agg(F.count(F.lit(1))).collect()

                cache[(name, c, cc)] = timed(run)
                print(f"  {cache[(name, c, cc)]}s")
            pts[name] = cache[(name, c, cc)]
        spec = policy_points.get(key, default_points)
        sec[key] = {
            **pts,
            "cells": {name: cells(n) for name, _d, n in spec},
            "corpus_ratio": 5.0,
            "time_ratio": round(pts["100k"] / pts["20k"], 2),
            "exp": round(
                math.log(max(pts["100k"] / pts["20k"], 1e-9)) / math.log(5), 2,
            ),
        }
        if "500k" in pts:
            sec[key]["time_ratio_500k_vs_100k"] = round(
                pts["500k"] / pts["100k"], 2
            )
            sec[key]["exp_100k_500k"] = round(
                math.log(max(pts["500k"] / pts["100k"], 1e-9)) / math.log(5),
                2,
            )
        if coarse_of:
            sec[key]["coarse_cells"] = {
                name: coarse_of(cells(n)) for name, _d, n in spec
            }

    # ---- DEFAULT-invocation leg (VERDICT r09 directive 1 done-check):
    # knn_join with num_cells/coarse_cells UNSET — the operator derives
    # constant-occupancy cells from right_count and auto-switches
    # two-level at >= KNN_TWO_LEVEL_CELLS.  Self-join: every row a
    # query — the exact shape the round-9 ledger measured at exp 2.17
    # when the default was num_cells=16.
    dflt = {}
    for name, d, n in (("100k", "scratch/sf5_emb", 100_000),
                       ("500k", "scratch/sf25_emb", 500_000)):
        print(f"default-invocation leg {name}: load {wait_quiet():.2f}")
        emb = spark.read.parquet(os.path.join(REPO, d, "embeddings.parquet"))

        def run(emb=emb, n=n):
            SIM.knn_join(
                emb, emb, "vec_id", "embedding",
                exclude_self=True, right_count=n,
            ).agg(F.count(F.lit(1))).collect()

        dflt[name] = timed(run)
        print(f"  {dflt[name]}s")
    sec["join_default_invocation"] = {
        **dflt,
        "params": "knn_join defaults (k=10, nprobe=4, num_cells=None -> "
                  "derived, coarse auto); self-join",
        "corpus_ratio": 5.0,
        "time_ratio": round(dflt["500k"] / dflt["100k"], 2),
        "exp": round(
            math.log(max(dflt["500k"] / dflt["100k"], 1e-9)) / math.log(5), 2
        ),
    }

    sec["two_level_recall"] = recall_curve(spark)

    with open(ledger_path) as fh:
        ledger = json.load(fh)
    ledger["knn_scaled"] = sec
    with open(ledger_path, "w") as fh:
        json.dump(ledger, fh, indent=1)
        fh.write("\n")
    print(json.dumps(sec, indent=1))


def recall_curve(spark) -> dict:
    """Two-level recall@10 curve (VERDICT r09 directive 8): a neighbor
    is findable on the hierarchical path only if its fine cell is
    probed AND that cell's coarse parent is among the query's
    coarse_probe coarse cells — so ledger recall@10 vs
    (coarse_probe, nprobe) alongside the flat curve at the same cell
    geometry.  100 held-out queries against the full corpus; exact =
    brute force.

    Round-10 addition: a ``default_derived`` point per scale — the
    FULL-DEFAULT invocation (num_cells / nprobe / coarse_probe all
    None: constant-occupancy cells, derive_search_budget nprobe,
    √nprobe coarse breadth) with its derived parameters, recall, and
    one timed run.  This is the production contract a bare
    ``knn_join(left, right, id, vec)`` actually delivers."""
    rec: dict = {}
    for name, d, n in (("100k", "scratch/sf5_emb", 100_000),
                       ("500k", "scratch/sf25_emb", 500_000)):
        print(f"recall leg {name}: load {wait_quiet():.2f}")
        emb = spark.read.parquet(os.path.join(REPO, d, "embeddings.parquet"))
        q = emb.where(F.col("vec_id") < 100)
        exact = SIM.brute_force_topk(emb, q, "vec_id", "embedding", k=10)
        exact = exact.localCheckpoint(eager=True)
        cells = max(16, round(n / 78))
        coarse = max(8, round(math.sqrt(cells)))
        pts = {}
        for nprobe in (4, 16):
            got = SIM.knn_join(
                q, emb, "vec_id", "embedding", k=10, num_cells=cells,
                nprobe=nprobe, coarse_cells=0,
            )
            pts[f"flat_nprobe{nprobe}"] = round(
                SIM.ann_recall(got, exact).collect()[0]["mean_recall"], 3
            )
            for cp in (2, 4):
                got = SIM.knn_join(
                    q, emb, "vec_id", "embedding", k=10, num_cells=cells,
                    nprobe=nprobe, coarse_cells=coarse, coarse_probe=cp,
                )
                pts[f"two_level_cp{cp}_nprobe{nprobe}"] = round(
                    SIM.ann_recall(got, exact).collect()[0]["mean_recall"],
                    3,
                )
        # full-default invocation: what a user who passes NOTHING gets
        der_cells = max(4, -(-n // SIM.KNN_CELL_OCCUPANCY))
        der_nprobe = SIM.derive_search_budget(n, der_cells, 10)["nprobe"]
        der_cp = max(4, round(der_nprobe ** 0.5))

        def run_default(emb=emb, q=q, n=n):
            return SIM.knn_join(
                q, emb, "vec_id", "embedding", k=10,
                right_count=n,
            )

        # warm once (centroid train + codegen), then time ONLY the kNN
        # materialization — recall's exact-join compare runs OUTSIDE the
        # timer so this point is comparable to the other timed legs
        # (ADVICE r10).
        run_default().count()
        t0 = time.monotonic()
        got = run_default().localCheckpoint(eager=True)
        t = round(time.monotonic() - t0, 3)
        r = round(SIM.ann_recall(got, exact).collect()[0]["mean_recall"], 3)
        pts["default_derived"] = {
            "cells": der_cells,
            "nprobe": der_nprobe,
            "coarse_probe": der_cp,
            "two_level": der_cells >= SIM.KNN_TWO_LEVEL_CELLS,
            "recall_at_10": r,
            "sec_100q_batch": t,
        }
        rec[name] = {"cells": cells, "coarse_cells": coarse, **pts}
        print(f"  {pts}")
    return rec


def default_2m(ledger_path: str) -> None:
    """``--default-2m`` (VERDICT r10 directive 9): extend the
    DEFAULT-invocation self-join leg one decade to 2M vectors
    (scratch/sf100_emb — tools/gen_sf.py --emb-only scale 1000) and add
    the 2M ``default_derived`` recall point, exercising the
    coarse_probe = √nprobe derivation a decade past where round 10
    stopped.  Re-measures the 500k self-join in the same session so the
    500k→2M slope compares like against like; merges into
    ``knn_scaled`` without touching the other legs."""
    spark = build_session(
        app_name="knn_default_2m", master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)},
    )
    legs = (("500k", "scratch/sf25_emb", 500_000),
            ("2m", "scratch/sf100_emb", 2_000_000))
    dflt: dict = {}
    for name, d, n in legs:
        print(f"default-invocation leg {name}: load {wait_quiet():.2f}")
        emb = spark.read.parquet(os.path.join(REPO, d, "embeddings.parquet"))

        def run(emb=emb, n=n):
            SIM.knn_join(
                emb, emb, "vec_id", "embedding",
                exclude_self=True, right_count=n,
            ).agg(F.count(F.lit(1))).collect()

        dflt[name] = timed(run)
        print(f"  {dflt[name]}s")
    # 2M default_derived recall point (100 held-out queries, exact =
    # brute force) — kNN timed alone, recall compare outside the timer
    name, d, n = legs[-1]
    emb = spark.read.parquet(os.path.join(REPO, d, "embeddings.parquet"))
    q = emb.where(F.col("vec_id") < 100)
    exact = SIM.brute_force_topk(
        emb, q, "vec_id", "embedding", k=10
    ).localCheckpoint(eager=True)
    der_cells = max(4, -(-n // SIM.KNN_CELL_OCCUPANCY))
    der_nprobe = SIM.derive_search_budget(n, der_cells, 10)["nprobe"]
    der_cp = max(4, round(der_nprobe ** 0.5))

    def run_default(emb=emb, q=q, n=n):
        return SIM.knn_join(
            q, emb, "vec_id", "embedding", k=10,
            right_count=n,
        )

    print(f"default_derived recall leg 2m: load {wait_quiet():.2f}")
    run_default().count()
    t0 = time.monotonic()
    got = run_default().localCheckpoint(eager=True)
    t = round(time.monotonic() - t0, 3)
    r = round(SIM.ann_recall(got, exact).collect()[0]["mean_recall"], 3)
    derived = {
        "cells": der_cells,
        "nprobe": der_nprobe,
        "coarse_probe": der_cp,
        "two_level": der_cells >= SIM.KNN_TWO_LEVEL_CELLS,
        "recall_at_10": r,
        "sec_100q_batch": t,
    }
    print(f"  {derived}")

    with open(ledger_path) as fh:
        ledger = json.load(fh)
    sec = ledger.setdefault("knn_scaled", {})
    leg = sec.setdefault("join_default_invocation", {})
    leg["500k_refresh"] = dflt["500k"]
    leg["2m"] = dflt["2m"]
    leg["corpus_ratio_500k_2m"] = 4.0
    leg["time_ratio_500k_2m"] = round(dflt["2m"] / dflt["500k"], 2)
    leg["exp_500k_2m"] = round(
        math.log(max(dflt["2m"] / dflt["500k"], 1e-9)) / math.log(4), 2
    )
    sec.setdefault("two_level_recall", {})["2m"] = {
        "default_derived": derived
    }
    with open(ledger_path, "w") as fh:
        json.dump(ledger, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"join_default_invocation": leg,
                      "two_level_recall_2m": derived}, indent=1))


def recall_only(ledger_path: str) -> None:
    """--recall-only: refresh just knn_scaled.two_level_recall (keeps
    every timed leg untouched) — for recall-semantics changes that do
    not move the latency ledger."""
    spark = build_session(
        app_name="knn_recall", master="local[32]", shuffle_partitions=32,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)},
    )
    rec = recall_curve(spark)
    with open(ledger_path) as fh:
        ledger = json.load(fh)
    ledger.setdefault("knn_scaled", {})["two_level_recall"] = rec
    with open(ledger_path, "w") as fh:
        json.dump(ledger, fh, indent=1)
        fh.write("\n")
    print(json.dumps(rec, indent=1))


if __name__ == "__main__":
    if "--recall-only" in sys.argv[1:]:
        argv = [a for a in sys.argv[1:] if a != "--recall-only"]
        recall_only(argv[0] if argv else os.path.join(REPO, "SF1_LEDGER.json"))
    elif "--default-2m" in sys.argv[1:]:
        argv = [a for a in sys.argv[1:] if a != "--default-2m"]
        default_2m(argv[0] if argv else os.path.join(REPO, "SF1_LEDGER.json"))
    else:
        main()
