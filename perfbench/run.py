"""Closed-loop benchmark of paradump_spark.

Workloads: ``dump`` (paradump: catalog to zstd SQL files) and ``sync``
(parasync: diff two catalogs, apply the difference to sqlite); the traced
run of ``sync`` also probes the curation operators.  Usage, from the
repository root::

    python3 perfbench/run.py --workload dump --seed 1 --seconds 20 --trace 0

One run generates the workload's inputs from ``--seed`` (numpy/pyarrow,
not timed), starts a ``local[K]`` session through ``build_session`` and
runs one warm-up pass, the cold one (the set-up).  It then
repeats the pass until the timed passes add up to ``--seconds``, and
makes at least :data:`MIN_TIMED` of them.  Rates are totals over all the
timed passes.  Every pass's output is checked.

The last stdout line is one JSON object: ``correct``, ``attempted`` and
``failed`` passes, and ``metrics`` — with ``--trace 0`` the end-to-end
metrics (``setup_s``, ``rows_per_s``, ``cpu_s_per_mrow``,
``peak_rss_mb``), with ``--trace 1`` the per-layer metrics of traced
passes.  The line before it holds diagnostics: generation time, per-pass
times, the noise witnesses (load, steal, JVM GC) and, when traced, any
exact counter that did not repeat between passes.

All files go under ``.perfbench_work/`` in the repository root, which a
run removes when it ends; every process it starts is stopped first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: local[K]: one core of a 4-core host stays free for the driver, the
#: listener bus and the OS, which steadies every figure
K = 3
#: driver heap (the library's SPARK_GRAFT_DRIVER_MEM knob): a fixed,
#: modest heap bounds the JVM's resident set on a shared host
DRIVER_MEM = "2g"
#: scan split target: like bench.py, a small split size gives these
#: few-MB inputs the parallel scan a large table gets from its size
SPLIT_BYTES = 1 << 20

#: Input sizes per workload: large enough that a pass is mostly data
#: work, which slows in proportion to CPU stolen by the host, not more.
#: ``sync`` rows are per table; its ``curate`` inputs feed only the probes.
WORKLOADS = {
    "dump": {"rows": 400_000, "row_groups": 16},
    "sync": {"rows": 150_000, "row_groups": 16,
             "curate": {"docs": 200, "vecs": 200, "families": 20}},
}
#: warm-up passes that end the set-up: the cold one.  Passes keep
#: speeding up after it as the JIT compiles, so the timed passes still sit
#: on that slope, and how fast a run goes down it differs from run to
#: run; a rate is therefore taken over all the timed passes together (on
#: 5-run samples of the curation pass, on a 4-vCPU VM, its spread between
#: runs was 0.06-0.15 of the median, against 0.11-0.19 for the median
#: pass).  More warm-ups do not fit the time the whole benchmark may take.
WARMUP = 1
#: fewest timed passes in a run: ``--seconds`` decides the count when
#: passes are short, and this floor when they are long
MIN_TIMED = 3

END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "cpu_s_per_mrow": "s/Mrow",
              "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "driver.build_s": "s", "driver.plan_s": "s", "driver.gap_s": "s",
    "driver.pass_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "s", "spark.input_rows": "count", "spark.output_mb": "MB",
    "catalog.meta_s": "s",
    "render.s": "s", "render.cpu_s": "s",
    "sinks.files.batch_s": "s", "sinks.files.py_rows": "count",
    "sinks.files.py_mb": "MB", "sinks.files.zstd_s": "s", "sinks.files.out_mb": "MB",
    "diff.s": "s", "diff.join_runs": "count",
    "dml.s": "s", "dml.rows": "count", "dml.batches": "count", "dml.busy_s": "s",
    "dedup.minhash_cc_s": "s", "dedup.simhash_s": "s",
    "semdedup.s": "s", "similarity.knn_s": "s",
}

#: counters that must read the same on every pass of one seed
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_mb",
         "spark.shuffle_read_mb", "spark.output_mb", "spark.input_rows",
         "diff.join_runs", "dml.rows", "dml.batches", "sinks.files.py_rows",
         "sinks.files.py_mb", "sinks.files.out_mb")


class Env:
    """Working directory, environment and Spark session of one run."""

    def __init__(self, tag: str):
        self.work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("data", "tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, sub))
        self.data = os.path.join(self.work, "data")
        # everything Spark, the JVM and Python write goes under self.work
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # every JVM, spark-submit's launcher included: temp files in the
        # working directory, no hsperfdata file in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            [f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData",
             os.environ.get("JAVA_TOOL_OPTIONS", "")]
        ).strip()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        self.spark = None

    def start_session(self):
        from paradump_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{K}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.files.maxPartitionBytes": str(SPLIT_BYTES),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the JVM and every other descendant, wait for
        each, then remove the working directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 — escalate below
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        _reap_descendants()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _reap_descendants(timeout_s: float = 30.0) -> None:
    from perfbench import meter

    me = os.getpid()
    sig = signal.SIGTERM
    deadline = time.monotonic() + timeout_s
    while True:
        rest = [p for p in meter.tree_pids(me) if p != me]
        if not rest:
            return
        for pid in rest:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in rest:  # reap direct children; others are reaped by theirs
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def _one_pass(wl, tr):
    """Prepare (untimed), run (timed), check (untimed).  Returns
    (wall seconds, tree CPU seconds, output, error or None)."""
    from perfbench import meter

    wl.prepare()
    cpu0, t0 = meter.tree_cpu_s(os.getpid()), time.perf_counter()
    try:
        out = wl.run_pass(tr)
    except Exception as exc:  # noqa: BLE001 — a failed pass is counted, not fatal
        return time.perf_counter() - t0, 0.0, None, f"pass raised {exc!r}"[:500]
    wall = time.perf_counter() - t0
    cpu = meter.tree_cpu_s(os.getpid()) - cpu0
    try:
        wl.check(out)
    except AssertionError as exc:
        return wall, cpu, out, f"check failed: {exc}"
    return wall, cpu, out, None


def _median(xs):
    # empty only when every timed pass failed, and then the run is not correct
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from perfbench import meter, trace as tracing
    from perfbench.workloads import WORKLOADS as WORKLOAD_CLASSES

    cls = WORKLOAD_CLASSES[workload]
    sizes = WORKLOADS[workload]
    env = Env(f"{workload}-{seed}")
    try:
        t0 = time.perf_counter()
        expect = cls.generate(env.data, seed, sizes)
        gen_s = time.perf_counter() - t0

        attempted = failed = 0
        errors: list[str] = []

        def record(err):
            nonlocal attempted, failed
            attempted += 1
            if err:
                failed += 1
                errors.append(err)

        t0 = time.perf_counter()
        spark = env.start_session()
        start_s = time.perf_counter() - t0
        wl = cls(spark, env.data, expect)
        warm = []
        for _ in range(WARMUP):
            wall, _cpu, _out, err = _one_pass(wl, tracing.OFF)
            warm.append(wall)
            record(err)

        jpid = meter.jvm_pid(spark)
        rss = meter.PeakRss(jpid)
        witness = meter.NoiseWitness()
        gc0 = meter.jvm_gc_s(spark)
        rss.start()
        tr = tracing.Tracer(spark) if trace else tracing.OFF
        walls, cpus, layers = [], [], []
        tries = 0
        measured = 0.0  # pass time, plus the layer probes when traced
        while tries < MIN_TIMED or measured < seconds:
            tries += 1
            wall, cpu, out, err = _one_pass(wl, tr)
            measured += wall
            if trace and out is not None:
                t0 = time.perf_counter()
                try:
                    extra = wl.probe(tr, out)
                except Exception as exc:  # noqa: BLE001 — counted with the pass
                    extra = {}
                    err = err or f"probe raised {exc!r}"[:500]
                measured += time.perf_counter() - t0
                layers.append(_pass_layers(wl, tr, extra))
            record(err)
            if err is None:
                walls.append(wall)
                cpus.append(cpu)
        peak_rss_mb = rss.stop_mb()
        diag = {
            "workload": workload, "seed": seed, "k": K, "sizes": sizes,
            "rows_per_pass": wl.rows, "gen_s": round(gen_s, 3),
            "session_start_s": round(start_s, 3),
            "warmup_pass_s": [round(w, 3) for w in warm],
            "timed_pass_s": [round(w, 3) for w in walls],
            "jvm_gc_s": round(meter.jvm_gc_s(spark) - gc0, 3),
            **witness.read(),
            "errors": errors[:5],
        }
        if trace:
            metrics = {}
            for name in PER_LAYER:
                vals = [lay.get(name, 0) for lay in layers]
                metrics[name] = _median(vals)
                if name in EXACT and len(set(vals)) > 1:
                    diag.setdefault("non_repeating", {})[name] = vals
            metrics["session.start_s"] = start_s
            metrics["session.warmup_s"] = sum(warm)
            out_metrics = {n: {"value": metrics[n], "unit": u} for n, u in PER_LAYER.items()}
        else:
            # rows and CPU over all the timed passes; with none left (every
            # timed pass failed) the run is not correct and the rates read 0
            done = wl.rows * len(walls)
            values = {
                "setup_s": start_s + sum(warm),
                "rows_per_s": done / sum(walls) if walls else 0.0,
                "cpu_s_per_mrow": sum(cpus) / done * 1e6 if walls else 0.0,
                "peak_rss_mb": peak_rss_mb,
            }
            out_metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
        # no failure means every one of the >= MIN_TIMED timed passes counts
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": out_metrics}
        return result, diag
    finally:
        env.close()


def _pass_layers(wl, tr, extra: dict) -> dict:
    """Per-layer numbers of one traced pass."""
    from perfbench import meter

    spans = tr.finish_pass()
    main = [(sp, c) for sp, c in spans if not sp.probe]
    m = {k: sum(c[k] for _, c in main) for k in PER_LAYER if k.startswith("spark.")}
    m["driver.build_s"] = sum(sp.build_s for sp, _ in main)
    m["driver.plan_s"] = sum(sp.plan_s for sp, _ in main)
    m["driver.pass_s"] = sum(sp.wall_s for sp, _ in main)
    covered = sum(meter.covered_s(c["_job_intervals"], sp.t0, sp.t1) for sp, c in main)
    m["driver.gap_s"] = m["driver.pass_s"] - covered
    m.update(wl.layer_metrics(spans, tr.counters))
    m.update(extra)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "paradump_spark")):
        print(f"no paradump_spark package in {ROOT}", file=sys.stderr)
        return 2
    result, diag = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
