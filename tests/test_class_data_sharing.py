"""The driver JVM's class data sharing archive: the session's choice of
state (use, record, off) over a fake Spark and JDK install, the launch
environment around ``getOrCreate``, and real JVMs given the flag."""

import logging
import os
import subprocess
import sys

import pytest
from pyspark.sql import SparkSession

from paradump_spark import cds, session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CDS_FLAGS = ("-XX:SharedArchiveFile=", "-XX:DumpLoadedClassList=")


@pytest.fixture()
def fake_install(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds templates only, a JDK home and
    an empty cache; returns the Spark home."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    java_home = tmp_path / "jdk"
    (java_home / "lib" / "server").mkdir(parents=True)
    (java_home / "release").write_text('JAVA_VERSION="17"\n')
    (java_home / "lib" / "server" / "classes.jsa").write_bytes(b"base")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    return spark_home


def _cache(*parts):
    return os.path.join(cds.cache_dir(), *parts)


def test_templates_only_conf_dir_records_then_uses(fake_install, monkeypatch):
    p = cds.plan("local[2]", {})
    assert (p.state, p.build) == ("record", False)
    assert p.conf_dir == _cache("conf") and os.listdir(p.conf_dir) == []
    assert p.flag == f"-XX:DumpLoadedClassList={p.key}.{os.getpid()}.classlist"
    assert os.path.dirname(p.key) == cds.cache_dir()

    # a second run finds the first one's class list: it builds at exit
    open(f"{p.key}.classlist", "w").close()
    second = cds.plan("local[2]", {})
    assert (second.state, second.build, second.flag) == ("record", True, p.flag)

    open(f"{p.key}.jsa", "wb").close()
    used = cds.plan("local", {})
    assert (used.state, used.key) == ("use", p.key)
    assert used.flag == f"-XX:SharedArchiveFile={p.key}.jsa"

    # an explicit SPARK_CONF_DIR with templates only (or nothing) is the same
    own = fake_install / "own-conf"
    own.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    assert cds.plan("local[2]", {}).state == "use"


def _exit_hook(p, monkeypatch, code=None):
    """Run ``p``'s exit hook as the interpreter would, its JVM having
    written a class list; ``code`` stands in for ``java -Xshare:dump``."""
    monkeypatch.setattr(cds, "_end_driver_jvm", lambda: None)
    own = p.flag.split("=", 1)[1]
    with open(own, "w") as fh:
        fh.write("java/lang/Object\n")
    cds._finish(p.key, own, [sys.executable, "-c", code] if p.build else None)
    assert not os.path.exists(own)


def test_second_run_builds_the_archive(fake_install, monkeypatch, caplog):
    first = cds.plan("local[2]", {})
    _exit_hook(first, monkeypatch)
    assert set(os.listdir(cds.cache_dir())) == {
        "conf", os.path.basename(f"{first.key}.classlist")}

    second = cds.plan("local[2]", {})
    assert second.build
    # the dump gets the archive's path as its last argument
    write = "import sys; open(sys.argv[-1].split('=', 1)[1], 'w').write('jsa')"
    with caplog.at_level(logging.INFO, logger="paradump_spark"):
        _exit_hook(second, monkeypatch, write)
    assert set(os.listdir(cds.cache_dir())) == {
        "conf", os.path.basename(f"{first.key}.jsa"), os.path.basename(f"{first.key}.lock")}
    assert "built in" in caplog.records[-1].getMessage()
    assert cds.plan("local[2]", {}).state == "use"


def test_failed_build_leaves_its_output_and_turns_off(fake_install, monkeypatch):
    _exit_hook(cds.plan("local[2]", {}), monkeypatch)
    second = cds.plan("local[2]", {})
    _exit_hook(second, monkeypatch, "print('no room'); raise SystemExit(1)")
    with open(f"{second.key}.log") as fh:
        assert fh.read() == "no room\n"
    assert not os.path.exists(f"{second.key}.jsa")
    assert not [n for n in os.listdir(cds.cache_dir()) if n.endswith((".classlist", ".tmp"))]
    p = cds.plan("local[2]", {})
    assert (p.state, p.flag) == ("off", None)
    assert f"{second.key}.log" in p.reason


@pytest.mark.parametrize("real", ["spark-defaults.conf", "log4j2.properties"])
def test_real_conf_file_turns_it_off(fake_install, monkeypatch, real):
    conf = fake_install / "conf"
    (conf / real).write_text("spark.foo bar\n")
    p = cds.plan("local[2]", {})
    assert (p.state, p.flag, p.conf_dir) == ("off", None, None)
    assert real in p.reason
    # the same through build_session: the launch sees the real conf dir
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    seen = _fake_launch(monkeypatch)
    session.build_session(master="local[2]")
    assert seen == [{"SPARK_CONF_DIR": str(conf), "java_opts": None}]
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


@pytest.mark.parametrize(
    "master", ["yarn", "spark://host:7077", "local-cluster[2,1,1024]", "k8s://h"]
)
def test_non_local_master_is_off(fake_install, master):
    p = cds.plan(master, {})
    assert (p.state, p.reason, p.flag) == ("off", "master is not local", None)


def test_unwritable_cache_is_off(fake_install, tmp_path, monkeypatch):
    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(not_a_dir))
    p = cds.plan("local[2]", {})
    assert (p.state, p.flag) == ("off", None)
    assert "not writable" in p.reason


def test_filled_empty_conf_dir_is_off(fake_install):
    # Spark would read a file left there, and CDS would map nothing
    p = cds.plan("local[2]", {})
    with open(os.path.join(p.conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write("spark.foo bar\n")
    p = cds.plan("local[2]", {})
    assert (p.state, p.flag, p.conf_dir) == ("off", None, None)
    assert "is not empty" in p.reason


def test_key_follows_jars_jdk_and_classpath(fake_install, tmp_path, monkeypatch):
    base = cds.plan("local[2]", {}).key
    jar = fake_install / "jars" / "spark-core.jar"
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    touched = cds.plan("local[2]", {}).key
    assert touched != base
    assert cds.plan("local[2]", {}).key == touched  # stable otherwise
    (fake_install / "jars" / "README").write_text("not a jar\n")
    assert cds.plan("local[2]", {}).key == touched  # `jars/*` is jars only

    # a jar of the extra classpath rebuilt in place, same path
    extra_jar = tmp_path / "extra.jar"
    extra_jar.write_bytes(b"v1")
    conf = {"spark.driver.extraClassPath": str(extra_jar)}
    extra = cds.plan("local[2]", conf).key
    assert extra != touched
    extra_jar.write_bytes(b"v2 longer")
    rebuilt = cds.plan("local[2]", conf).key
    assert rebuilt != extra

    # a jar added to a `dir/*` entry of SPARK_DIST_CLASSPATH
    dist = tmp_path / "dist"
    dist.mkdir()
    monkeypatch.setenv("SPARK_DIST_CLASSPATH", str(dist / "*"))
    before = cds.plan("local[2]", {}).key
    (dist / "hadoop.jar").write_bytes(b"jar")
    assert cds.plan("local[2]", {}).key != before
    monkeypatch.delenv("SPARK_DIST_CLASSPATH")

    (fake_install.parent / "jdk" / "release").write_text('JAVA_VERSION="17.1"\n')
    assert cds.plan("local[2]", {}).key not in (touched, extra, rebuilt)


@pytest.mark.parametrize("var", ["HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"])
def test_non_empty_classpath_dir_is_off(fake_install, tmp_path, monkeypatch, var):
    # -Xshare:dump refuses a non-empty directory on the classpath
    d = tmp_path / "hadoop-conf"
    d.mkdir()
    monkeypatch.setenv(var, str(d))
    assert cds.plan("local[2]", {}).state == "record"  # empty: harmless
    (d / "core-site.xml").write_text("<configuration/>\n")
    p = cds.plan("local[2]", {})
    assert (p.state, p.flag, p.conf_dir) == ("off", None, None)
    assert p.reason == f"classpath dir {d} is not empty"


def _fake_launch(monkeypatch):
    """Replace the JVM launch with a probe of what it would see."""
    seen = []

    def get_or_create(builder):
        seen.append({
            "SPARK_CONF_DIR": os.environ.get("SPARK_CONF_DIR"),
            "java_opts": builder._options.get("spark.driver.extraJavaOptions"),
        })
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setattr(session, "_jvm_running", lambda: False)
    monkeypatch.setattr(session, "_worker_imports_package", lambda *a: True)
    return seen


@pytest.mark.parametrize("conf_dir_before", [None, "templates"])
def test_launch_env_is_restored(fake_install, monkeypatch, caplog, conf_dir_before):
    if conf_dir_before:
        monkeypatch.setenv("SPARK_CONF_DIR", str(fake_install / "conf"))
    before = dict(os.environ)
    seen = _fake_launch(monkeypatch)
    armed = []
    monkeypatch.setattr(cds, "build_at_exit", lambda spark, p: armed.append(p.key))
    with caplog.at_level(logging.INFO, logger="paradump_spark"):
        got = session.build_session(
            master="local[2]",
            extra_conf={"spark.driver.extraJavaOptions": "-Dcaller=kept"},
        )
    assert got == "session"
    assert dict(os.environ) == before
    (record,) = [r for r in caplog.records if r.msg.startswith("class data sharing")]
    assert record.args["chosen"] == "record"
    assert record.getMessage().startswith(
        "class data sharing record: no archive for this environment, the class"
        " list is kept for the next run (master=local[2], "
    )
    flag = record.args["flag"]
    assert seen == [{"SPARK_CONF_DIR": _cache("conf"),
                     "java_opts": f"-Dcaller=kept {flag}"}]
    assert armed == [flag.split("=", 1)[1].rsplit(".", 2)[0]]


def test_running_jvm_launches_nothing(fake_install, monkeypatch, caplog):
    monkeypatch.setattr(session, "_jvm_running", lambda: True)
    with caplog.at_level(logging.INFO, logger="paradump_spark"):
        p = session._class_data_sharing("local[2]", {})
    assert (p.state, p.flag, p.conf_dir) == ("off", None, None)
    assert not caplog.records


def test_session_jvm_holds_its_flag(spark):
    """The test session's own launch: the class data sharing flag that
    build_session put in its conf (as its decision record names it,
    test_launch_env_is_restored) is one the running JVM was given."""
    opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "")
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    flags = [a for a in runtime.getInputArguments() if a.startswith(CDS_FLAGS)]
    assert flags == [o for o in opts.split() if o.startswith(CDS_FLAGS)]
    assert len(flags) == (0 if cds.plan("local[4]", {}).state == "off" else 1)


def test_truncated_archive_still_gives_a_working_session(tmp_path, monkeypatch):
    """A session whose archive is cut short starts, runs a job and prints
    nothing of it on stdout: ``-Xshare:auto`` skips the archive."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    p = cds.plan("local[1]", {})
    if p.state == "off":
        pytest.skip(f"class data sharing is off here: {p.reason}")
    base = os.path.join(cds._java_home(), "lib", "server", "classes.jsa")
    if not os.path.exists(base):
        pytest.skip(f"no base archive to cut short at {base}")
    with open(base, "rb") as fh, open(f"{p.key}.jsa", "wb") as out:
        out.write(fh.read(1 << 20))
    code = (
        "import sys\n"
        "from paradump_spark.session import build_session\n"
        "s = build_session(master='local[1]')\n"
        "s.sparkContext.setLogLevel('ERROR')\n"
        "opts = s.sparkContext.getConf().get('spark.driver.extraJavaOptions')\n"
        "print(opts, file=sys.stderr)\n"
        "print(s.range(5).count())\n"
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", "PYTHONPATH": REPO_ROOT}
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout == "5\n"
    assert f"-XX:SharedArchiveFile={p.key}.jsa" in done.stderr
