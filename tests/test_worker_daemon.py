"""The library's Python worker daemon: zip directories re-read only on
change, the session's choice of daemon, and Spark workers running it."""

import importlib
import logging
import os
import sys
import zipfile
import zipimport

import pytest

from paradump_spark import daemon, session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    """Replace ``path`` with a zip of ``modules`` (new inode, new size)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pdz_mod_a": "X = 1\n"})
    monkeypatch.setattr(daemon, "_seen", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("pdz_mod_a").X == 1
        reads.clear()
        importlib.invalidate_caches()  # first sight of the archive: one read
        assert reads.count(archive) == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads  # unchanged: no directory read

        _write_zip(archive, {"pdz_mod_a": "X = 1\n", "pdz_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("pdz_mod_b").Y == 2
    finally:
        sys.modules.pop("pdz_mod_a", None)
        sys.modules.pop("pdz_mod_b", None)


@pytest.mark.parametrize(
    "master, importable, extra, expected",
    [
        ("local[4]", True, {}, "paradump_spark.daemon"),
        ("local", True, {}, "paradump_spark.daemon"),
        ("local[4]", False, {}, None),
        ("local-cluster[2,1,1024]", True, {}, None),
        ("spark://host:7077", True, {}, None),
        ("yarn", True, {}, None),
        ("local[4]", True, {"spark.python.daemon.module": "pyspark.daemon"}, None),
        ("yarn", False, {"spark.python.daemon.module": "paradump_spark.daemon"}, None),
    ],
)
def test_daemon_decision(monkeypatch, caplog, master, importable, extra, expected):
    probed = []

    def fake_probe(python, cwd, pythonpath):
        probed.append((python, cwd, pythonpath))
        return importable

    monkeypatch.setattr(session, "_worker_imports_package", fake_probe)
    conf = dict(extra)
    with caplog.at_level(logging.INFO, logger="paradump_spark"):
        assert session._python_daemon(master, conf) == expected
    assert conf == extra  # a caller's daemon is kept as given
    # the interpreter is started only when the import decides
    local = master == "local" or master.startswith("local[")
    assert len(probed) == (1 if local and not extra else 0)
    (record,) = [r for r in caplog.records if r.name == "paradump_spark"]
    chosen = extra.get("spark.python.daemon.module", expected or "pyspark.daemon")
    assert record.args["daemon"] == chosen
    assert record.args["master"] == master
    assert {"python", "cwd", "pythonpath", "reason"} <= set(record.args)


def test_worker_import_probe(tmp_path):
    python = sys.executable
    assert session._worker_imports_package(python, REPO_ROOT, "")
    assert session._worker_imports_package(python, str(tmp_path), REPO_ROOT)
    # a session started elsewhere with only a driver-side sys.path insert
    assert not session._worker_imports_package(python, str(tmp_path), "")
    # another copy of the package is not this one
    shadow = tmp_path / "shadow"
    (shadow / "paradump_spark").mkdir(parents=True)
    (shadow / "paradump_spark" / "__init__.py").write_text("")
    assert not session._worker_imports_package(python, str(shadow), "")
    assert not session._worker_imports_package(
        str(tmp_path / "no-such-python"), REPO_ROOT, ""
    )


def test_spark_workers_run_library_daemon(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        main_spec = getattr(sys.modules["__main__"], "__spec__", None)
        yield pa.RecordBatch.from_pydict({
            "daemon": [main_spec.name if main_spec else None],
            "reads": [len(reads)],
        })

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(probe, "daemon string, reads long")
        .collect()
    )
    assert len(rows) == 2
    assert {r["daemon"] for r in rows} == {"paradump_spark.daemon"}
    assert {r["reads"] for r in rows} == {0}
