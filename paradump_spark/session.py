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

Class data sharing: on a local master, the driver JVM maps a static
AppCDS archive of the ~13.5k classes a session loads, which halves its
start (6-7 s to 3-3.5 s on a 4-vCPU VM) and speeds the first job.  The
archive lives in ``${XDG_CACHE_HOME:-~/.cache}/paradump_spark/cds/`` as
``<key>.jsa``; the key hashes what the JVM checks when it maps it: the
JDK (``$JAVA_HOME/release`` and its base ``lib/server/classes.jsa``)
and every driver classpath entry (path, size, mtime; Spark's
``jars/*`` expanded to its jars).  Each launch is in one of three
states, logged once on the ``paradump_spark`` logger
(:mod:`paradump_spark.cds` does the work):

* ``use``: the key's archive exists; ``-XX:SharedArchiveFile`` is added
  to ``spark.driver.extraJavaOptions`` after any value already there.
  The JVM's default ``-Xshare:auto`` maps a stale or truncated archive
  not at all, silently, so it costs speed, never correctness.  Each
  ``use`` touches the archive; an archive build removes the files of
  other keys untouched for ``cds.STALE_DAYS`` (30), so the archives of
  a replaced JDK or Spark do not stay in the cache for good.
* ``record``: no archive yet; ``-XX:DumpLoadedClassList`` records the
  classes the session loads, and at interpreter exit, after the driver
  JVM has ended (bounded wait), the list is kept as
  ``<key>.classlist``.  Building the archive costs 35-60 s of CPU
  (``java -Xshare:dump`` runs interpreted) and 160-220 MB, which a
  one-off environment (a fresh container, a CI job) would never earn
  back, so only a run that finds an earlier run's class list builds
  it: at its exit, synchronously with a timeout, so no process
  outlives Python, with the recorded classpath and module flags, into
  a temporary name renamed into place.  The dump's output is captured,
  and on failure kept in ``<key>.log``, which turns the key ``off``
  until removed.  The first two runs in a fresh cache start at stock
  speed; the second ends 35-60 s later; the third and later map it.
* ``off``: a master that is not local, a cache directory that is not
  writable, a non-empty directory on the predicted driver classpath
  (``HADOOP_CONF_DIR``, say: ``-Xshare:dump`` refuses those), or a
  Spark conf dir (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``)
  holding anything but ``*.template`` files.  Spark puts that dir first
  on the classpath; a templates-only dir configures nothing, so ``use``
  and ``record`` launch with ``SPARK_CONF_DIR`` pointed at an empty
  directory in the cache and restore ``os.environ`` after
  ``getOrCreate``.  A real ``spark-defaults.conf`` or
  ``log4j2.properties`` is never hidden.

When a driver JVM is already running, nothing launches and nothing is
logged.
"""

from __future__ import annotations

import logging
import os
import subprocess

from pyspark.sql import SparkSession

from paradump_spark import cds

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
_JAVA_OPTS = "spark.driver.extraJavaOptions"
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


def _decision(name: str, chosen: str, reason: str, **inputs) -> None:
    """Log one INFO record ``<name> <chosen>: <reason> (k=v, ...)`` on
    the ``paradump_spark`` logger, its values in ``record.args``."""
    args = {"chosen": chosen, "reason": reason, **inputs}
    fields = ", ".join(f"{k}=%({k})s" for k in inputs)
    log.info(f"{name.replace('%', '%%')} %(chosen)s: %(reason)s ({fields})", args)


def _python_daemon(master: str, conf: dict[str, str]) -> str | None:
    """The ``spark.python.daemon.module`` to set, or None to keep
    pyspark's own (or the caller's, already in ``conf``)."""
    inputs = {
        "master": master,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
        "cwd": os.getcwd(),
        "PYTHONPATH": os.environ.get("PYTHONPATH", ""),
    }
    module = None
    if _DAEMON_CONF in conf:
        reason = "set in extra_conf"
    elif master != "local" and not master.startswith("local["):
        reason = "master is not local"
    elif not _worker_imports_package(
        inputs["PYSPARK_PYTHON"], inputs["cwd"], inputs["PYTHONPATH"]
    ):
        reason = "workers cannot import paradump_spark"
    else:
        module, reason = _LIB_DAEMON, "workers import paradump_spark"
    _decision(
        "python worker daemon", conf.get(_DAEMON_CONF, module or "pyspark.daemon"),
        reason, **inputs,
    )
    return module


def _jvm_running() -> bool:
    from pyspark import SparkContext

    return SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ


def _class_data_sharing(master: str, conf: dict[str, str]) -> cds.Plan:
    """The class data sharing state of this launch, logged; ``off`` with
    no record when ``getOrCreate`` will launch no JVM."""
    if _jvm_running():
        return cds.Plan("off", "driver JVM already running", {"flag": None})
    plan = cds.plan(master, conf)
    _decision("class data sharing", plan.state, plan.reason, **plan.inputs)
    return plan


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
    :mod:`paradump_spark.daemon`, and the driver JVM maps a class data
    sharing archive, when the module docstring's conditions hold;
    ``extra_conf`` overrides every default, the daemon included.
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
    plan = _class_data_sharing(master, conf)
    if plan.flag:
        conf[_JAVA_OPTS] = " ".join(filter(None, [conf.get(_JAVA_OPTS), plan.flag]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    saved = os.environ.get("SPARK_CONF_DIR")
    if plan.conf_dir:
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if plan.state == "record":
        cds.build_at_exit(spark, plan)
    return spark


def get_session() -> SparkSession:
    """Return the active session, building a default one if absent."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()
