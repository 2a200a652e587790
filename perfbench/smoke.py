"""Fast self-test of the benchmark's output checks, at tiny sizes.

For each workload: generate inputs, run one pass, and require its check
to pass; then corrupt that pass's output and require the check to fail.
One Spark session serves all three workloads.  Run from the repository
root::

    python3 perfbench/smoke.py

Exits 0 when every check behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import sys

TINY = {
    "dump": {"rows": 2_000, "row_groups": 4},
    "sync": {"rows": 2_000, "row_groups": 4,
             "curate": {"docs": 200, "vecs": 200, "families": 5}},
    "curate": {"docs": 200, "vecs": 200, "families": 5},
}


def main() -> int:
    from perfbench import run, trace
    from perfbench.workloads import WORKLOADS, CheckFailed

    env = run.Env("smoke")
    problems = []
    try:
        spark = env.start_session()
        for name in TINY:
            cls = WORKLOADS[name]
            work = os.path.join(env.data, name)
            wl = cls(spark, work, cls.generate(work, 7, TINY[name]))
            wl.prepare()
            out = wl.run_pass(trace.OFF)
            try:
                wl.check(out)
                print(f"{name}: check passes on a good pass")
            except CheckFailed as exc:
                problems.append(f"{name}: check failed on a good pass: {exc}")
            wl.corrupt(out)
            try:
                wl.check(out)
                problems.append(f"{name}: check passed a corrupted output")
            except CheckFailed as exc:
                print(f"{name}: check rejects a corrupted output ({exc})")
    finally:
        env.close()
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
