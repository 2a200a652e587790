"""SparkSession factory with scale-oriented defaults.

The reference pins every DB session to UTC (``SET TIME_ZONE='+00:00'``,
src/paradump/paradump.go:177,:385,:538); we mirror that with
``spark.sql.session.timeZone=UTC`` so temporal values round-trip identically.

Defaults are chosen for the "would this survive 100 TB" test:

* AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's adaptive chunk growth (src/paradump/paradump.go:1742-1747).
* Arrow on for pandas-UDF interchange (the dialect renderers).
* shuffle partitions sized from the local core count here; on a real
  cluster callers pass ``shuffle_partitions`` ~ 2-3x total cores or rely
  on AQE coalescing from a higher initial number.

Python workers: on a local master whose workers can import this package,
Spark starts them from :mod:`paradump_spark.daemon` instead of
``pyspark.daemon``.  pyspark calls ``importlib.invalidate_caches()`` at
the start of every task, and on CPython 3.11 that re-reads the
directory of every zip archive on the worker path (``pyspark.zip`` a
dozen times, the spark-core jar twice): 0.2-0.3 s of CPU per task on a
4-vCPU VM.  The library daemon re-reads an archive only when its inode,
size or mtime changed, so every Python UDF, ``mapInArrow`` and
``mapInPandas`` task skips that cost.  The daemon stays off, and pyspark's
own is used, when the master is not ``local``/``local[...]`` or when the
worker interpreter (``PYSPARK_PYTHON``, started in the current directory
with the current ``PYTHONPATH``) would not import this same package; the
decision is logged once on the ``paradump_spark`` logger.  A cluster
whose executors have the package installed turns it on with
``extra_conf={"spark.python.daemon.module": "paradump_spark.daemon"}``;
a ``spark.python.daemon.module`` in ``extra_conf`` always wins.
"""

from __future__ import annotations

import logging
import os
import subprocess

from pyspark.sql import SparkSession

log = logging.getLogger("paradump_spark")

_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size bounds pandas-UDF memory per task (SURVEY §4 X8).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Parquet input split target; at 100 TB this keeps ~128 MB tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
}

# Local-mode heap: plain `python script.py` launches the JVM with the 1g
# default, which throttles 32 concurrent parquet writers (row-group
# buffers) and makes mid-size shuffles spill.  Builder conf IS honored
# here because it reaches spark-submit before JVM launch; it no-ops on a
# JVM that is already running (cluster mode sets executor memory itself).
_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

_DAEMON_CONF = "spark.python.daemon.module"
_LIB_DAEMON = "paradump_spark.daemon"
_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))


def _worker_imports_package(python: str, cwd: str, pythonpath: str) -> bool:
    """Whether ``python`` started in ``cwd`` with ``pythonpath`` finds this
    very package directory, as a local-mode Python worker would."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    code = (
        "import importlib.util as u; s = u.find_spec('paradump_spark'); "
        "print(s.submodule_search_locations[0] if s else '')"
    )
    try:
        found = subprocess.run(
            [python, "-c", code], cwd=cwd, env=env, capture_output=True,
            text=True, timeout=60, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return False
    return bool(found) and os.path.realpath(found) == os.path.realpath(_PACKAGE_DIR)


def _python_daemon(master: str, conf: dict[str, str]) -> str | None:
    """The ``spark.python.daemon.module`` to set, or None to keep
    pyspark's own (or the caller's, already in ``conf``)."""
    inputs = {
        "master": master,
        "python": os.environ.get("PYSPARK_PYTHON", "python3"),
        "cwd": os.getcwd(),
        "pythonpath": os.environ.get("PYTHONPATH", ""),
    }
    module = None
    if _DAEMON_CONF in conf:
        reason = "set in extra_conf"
    elif master != "local" and not master.startswith("local["):
        reason = "master is not local"
    elif not _worker_imports_package(
        inputs["python"], inputs["cwd"], inputs["pythonpath"]
    ):
        reason = "workers cannot import paradump_spark"
    else:
        module, reason = _LIB_DAEMON, "workers import paradump_spark"
    log.info(
        "python worker daemon %(daemon)s: %(reason)s (master=%(master)s, "
        "PYSPARK_PYTHON=%(python)s, cwd=%(cwd)s, PYTHONPATH=%(pythonpath)s)",
        {"daemon": conf.get(_DAEMON_CONF, module or "pyspark.daemon"),
         "reason": reason, **inputs},
    )
    return module


def build_session(
    app_name: str = "paradump_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster pass ``None`` with a pre-set master in spark-submit and these
    confs still apply.  Python workers start from
    :mod:`paradump_spark.daemon` when the module docstring's conditions
    hold; ``extra_conf`` overrides every default, the daemon included.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if master.startswith("local"):
        conf["spark.driver.memory"] = _DRIVER_MEM
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    daemon = _python_daemon(master, conf)
    if daemon is not None:
        conf[_DAEMON_CONF] = daemon
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_session() -> SparkSession:
    """Return the active session, building a default one if absent."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()
