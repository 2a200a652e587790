"""Capture `.explain("formatted")` output for declared queries into
plans/<round>/<name>_<tag>.txt — before/after plan evidence for a change
(plan-shape claims are checked against these files).

Usage: python tools/capture_plans.py <round> <tag> [sf_dir] [names...]
       (no names = every queries() and extra_queries() entry; sf_dir is
       the first argument containing "/", else $SPARK_GRAFT_SF_DIR)
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402
from paradump_spark.session import build_session  # noqa: E402


def main():
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    round_name, tag = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = rest[0] if rest and "/" in rest[0] else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit("no sf_dir argument and SPARK_GRAFT_SF_DIR is unset")
    names = [a for a in rest if "/" not in a]

    spark = build_session(master="local[4]", shuffle_partitions=4)
    qmap = dict(E.queries())
    qmap.update(E.extra_queries())
    if names:
        qmap = {k: v for k, v in qmap.items() if k in names}

    out_dir = os.path.join(ROOT, "plans", round_name)
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in qmap.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            plan = f"ERROR {type(ex).__name__}: {ex}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
