"""Class data sharing for the local driver JVM: one static AppCDS archive
per environment, built from a recorded class list at the exit of the
second session that finds none, and mapped by the sessions after it.

:func:`plan` picks the state of one launch (``use``, ``record`` or
``off``); :func:`build_at_exit` keeps a ``record`` launch's class list,
or turns it into the archive, when the interpreter exits.
:mod:`paradump_spark.session` documents the states and applies them.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import json
import logging
import os
import shutil
import subprocess
import time
from dataclasses import dataclass

log = logging.getLogger("paradump_spark")

#: seconds ``java -Xshare:dump`` may take (35-60 s on a 4-vCPU VM)
DUMP_TIMEOUT_S = 300
#: seconds the driver JVM gets to exit once its gateway is shut down
JVM_EXIT_TIMEOUT_S = 30


@dataclass
class Plan:
    """One launch's state; ``inputs`` go into the decision record."""

    state: str  # "use", "record" or "off"
    reason: str
    inputs: dict
    conf_dir: str | None = None  # SPARK_CONF_DIR for the launch
    key: str | None = None  # path of the archive files, less the suffix
    build: bool = False  # record: build the archive at exit

    @property
    def flag(self) -> str | None:
        return self.inputs["flag"]


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "paradump_spark", "cds")


def _java_home() -> str:
    """The JDK Spark's launcher starts: ``$JAVA_HOME``, else the ``java``
    on ``PATH``."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else ""


def _stat(path: str) -> list[int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return [st.st_size, st.st_mtime_ns]


def _expand(classpath: str) -> list[str]:
    """The classpath's entries, each ``dir/*`` expanded to the jars in
    ``dir`` as the java launcher does."""
    out = []
    for entry in filter(None, classpath.split(os.pathsep)):
        if os.path.basename(entry) != "*":
            out.append(entry)
            continue
        d = os.path.dirname(entry) or "."
        try:
            names = sorted(os.listdir(d))
        except OSError:
            continue
        out += [os.path.join(d, n) for n in names if n.lower().endswith(".jar")]
    return out


def _archive_key(java_home: str, entries: list[str]) -> str:
    """Hash of what the JVM checks when it maps an archive: the JDK
    build, its base archive and every classpath entry (path, size,
    mtime)."""
    try:
        with open(os.path.join(java_home, "release"), "rb") as fh:
            release = fh.read().decode(errors="replace")
    except OSError:
        release = ""
    blob = json.dumps({
        "release": release,
        "base": _stat(os.path.join(java_home, "lib", "server", "classes.jsa")),
        "classpath": [[e, _stat(e)] for e in entries],
    })
    return hashlib.sha256(blob.encode()).hexdigest()[:20]


def plan(master: str, conf: dict[str, str]) -> Plan:
    """The state of one driver JVM launch on ``master`` with ``conf``."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = cache_dir()
    inputs = {"master": master, "flag": None, "conf_dir": conf_dir, "cache": cache}
    if master != "local" and not master.startswith("local["):
        return Plan("off", "master is not local", inputs)
    try:
        real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        real = []
    if real:
        # Spark reads these, and CDS maps no archive while a non-empty
        # directory is on the classpath
        return Plan("off", f"conf dir holds {', '.join(real)}", inputs)
    empty = os.path.join(cache, "conf")
    try:
        os.makedirs(empty, exist_ok=True)
        writable = os.access(cache, os.W_OK)
    except OSError:
        writable = False
    if not writable:
        return Plan("off", f"cache dir {cache} not writable", inputs)
    # the launcher's order (AbstractCommandBuilder.buildClassPath)
    entries = _expand(os.pathsep.join(p for p in [
        conf.get("spark.driver.extraClassPath"), empty,
        os.path.join(spark_home, "jars", "*"),
        os.environ.get("HADOOP_CONF_DIR"), os.environ.get("YARN_CONF_DIR"),
        os.environ.get("SPARK_DIST_CLASSPATH"),
    ] if p))
    full = [e for e in entries if os.path.isdir(e) and os.listdir(e)]
    if full:
        return Plan("off", f"classpath dir {full[0]} is not empty", inputs)
    key = os.path.join(cache, _archive_key(_java_home(), entries))
    if os.path.exists(f"{key}.jsa"):
        inputs["flag"] = f"-XX:SharedArchiveFile={key}.jsa"
        return Plan("use", "archive matches", inputs, conf_dir=empty, key=key)
    if os.path.exists(f"{key}.log"):
        return Plan("off", f"archive build failed, see {key}.log", inputs)
    inputs["flag"] = f"-XX:DumpLoadedClassList={key}.{os.getpid()}.classlist"
    if os.path.exists(f"{key}.classlist"):
        reason = "an earlier run left its class list, the archive is built at exit"
        return Plan("record", reason, inputs, conf_dir=empty, key=key, build=True)
    reason = "no archive for this environment, the class list is kept for the next run"
    return Plan("record", reason, inputs, conf_dir=empty, key=key)


def build_at_exit(spark, p: Plan) -> None:
    """At interpreter exit, keep the class list the running driver JVM
    records as ``<key>.classlist`` and, when ``p.build``, turn it into
    the archive with that JVM's classpath and module flags."""
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    cmd = [
        os.path.join(jvm.System.getProperty("java.home"), "bin", "java"),
        "-Xshare:dump", f"-XX:SharedClassListFile={p.key}.classlist",
        "-cp", jvm.System.getProperty("java.class.path"),
        *[a for a in runtime.getInputArguments() if a.startswith("--")],
    ]
    atexit.register(_finish, p.key, p.flag.split("=", 1)[1], cmd if p.build else None)


def _end_driver_jvm() -> None:
    """Stop Spark and wait, bounded, for the gateway JVM to exit: it
    writes the rest of the class list as it exits."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _finish(key: str, classlist: str, cmd: list[str] | None) -> None:
    """Move the finished ``classlist`` to ``<key>.classlist``; with a
    ``cmd``, run ``java -Xshare:dump`` into a temporary name, renamed to
    ``<key>.jsa`` on success.  A failed build's output goes to
    ``<key>.log``, which turns class data sharing off for this key."""
    tmp = f"{key}.{os.getpid()}.jsa.tmp"
    try:
        _end_driver_jvm()
        if not os.path.exists(classlist):
            return  # the JVM wrote none: it did not start or exit normally
        os.replace(classlist, f"{key}.classlist")
        if cmd is None:
            return
        with open(f"{key}.lock", "w") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                return  # another process is building this archive
            if os.path.exists(f"{key}.jsa"):
                return
            t0 = time.monotonic()
            try:
                done = subprocess.run(
                    [*cmd, f"-XX:SharedArchiveFile={tmp}"], stdin=subprocess.DEVNULL,
                    stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                    timeout=DUMP_TIMEOUT_S,
                )
                output, ok = done.stdout, done.returncode == 0
            except subprocess.TimeoutExpired as exc:
                output, ok = (exc.output or b"") + b"\ntimed out\n", False
            os.remove(f"{key}.classlist")
            if ok and os.path.exists(tmp):
                os.replace(tmp, f"{key}.jsa")
                log.info("class data sharing archive %s.jsa built in %.1f s",
                         key, time.monotonic() - t0)
            else:
                with open(f"{key}.log", "wb") as fh:
                    fh.write(output)
    except Exception:  # noqa: BLE001 — an exit hook must not raise
        log.exception("class data sharing archive %s.jsa not built", key)
    finally:
        for path in (classlist, tmp):
            if os.path.exists(path):
                os.remove(path)
