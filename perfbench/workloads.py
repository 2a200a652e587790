"""The closed-loop workloads: one pass, its output check, and the layer
probes of the traced run.  ``dump`` and ``sync`` are the paper's two
programs.  ``curate`` runs the curation operators; its pass is a layer
probe in the traced run of ``sync``.

Every pass drives the library through its public functions with their
default options.  ``prepare`` runs before each pass and ``check`` after
it; neither is timed.  ``check`` raises :class:`CheckFailed` on a wrong
output.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import sqlite3

from perfbench import dbconn, gen


class CheckFailed(AssertionError):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _span_named(spans, name: str):
    return [(sp, c) for sp, c in spans if sp.name == name]


# ---------------------------------------------------------------------------
# dump


def _parts(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    )


def count_tuples(path: str) -> int:
    """VALUES tuples in a dump directory's zstd part files.  Every tuple
    starts a line with ``(`` — the renderer escapes raw newlines inside
    strings — and no other line does."""
    import pyarrow as pa

    n = 0
    for p in _parts(path):
        prev = b""
        with pa.CompressedInputStream(pa.OSFile(p), "zstd") as fh:
            while True:
                chunk = fh.read(8 << 20)
                if not chunk:
                    break
                n += (prev + chunk).count(b"\n(") - prev.count(b"\n(")
                prev = chunk[-1:]
    return n


def _dir_digest(path: str) -> tuple[str, int]:
    h, size = hashlib.sha256(), 0
    for p in _parts(path):
        with open(p, "rb") as fh:
            data = fh.read()
        h.update(data)
        size += len(data)
    return h.hexdigest(), size


class Dump:
    """``dump_tables(mode="sql", compression="zstd")`` of the generated
    catalog; the traced run adds probes of the meta, render, statement-
    batching and zstd layers on the same tables."""

    name = "dump"

    def __init__(self, spark, work: str, expect: dict):
        from paradump_spark.catalog import ParquetCatalog

        self.spark = spark
        self.work = work
        self.expect = expect
        self.catalog = ParquetCatalog(spark, os.path.join(work, "in"))
        self.out = os.path.join(work, "out")
        self.rows = sum(expect["rows"].values())
        self._first: dict | None = None

    @staticmethod
    def generate(work: str, seed: int, sizes: dict) -> dict:
        return gen.make_dump(os.path.join(work, "in"), seed, sizes["rows"],
                             sizes["row_groups"])

    def prepare(self) -> None:
        pass

    def run_pass(self, tr) -> dict:
        from paradump_spark.dump import DumpOptions, dump_tables

        with tr.span("dump"):
            dump_tables(self.catalog, self.out,
                        options=DumpOptions(mode="sql", compression="zstd"))
        return {t: os.path.join(self.out, t) for t in self.expect["rows"]}

    def check(self, out: dict) -> None:
        digests = {}
        for table, n in self.expect["rows"].items():
            got = count_tuples(out[table])
            _expect(got == n, f"dump {table}: {got} VALUES tuples, source has {n}")
            digests[table] = _dir_digest(out[table])
        if self._first is None:
            self._first = digests
        _expect(digests == self._first, "dump output bytes differ between passes")

    def probe(self, tr, out: dict) -> dict:
        """Layer probes on each table: catalog.meta, render through the
        noop sink, uncompressed statement files, then the zstd finalize
        on those files by itself."""
        from paradump_spark.sinks.files import (
            rendered_tuples, write_noop, write_sql_inserts, zstd_compress_files,
        )

        probe_dir = os.path.join(self.work, "probe")
        for table in self.expect["rows"]:
            with tr.span("catalog.meta", probe=True):
                meta = self.catalog.meta(table)
            df = self.catalog.load(table)
            with tr.span("render", probe=True) as sp:
                rendered = sp.build(rendered_tuples, df, meta)
                sp.plan(rendered)
                write_noop(rendered)
            path = os.path.join(probe_dir, table)
            with tr.span("sinks.files.batch", probe=True):
                write_sql_inserts(df, table, path, meta=meta)
            with tr.span("sinks.files.zstd", probe=True):
                zstd_compress_files(path)
        shutil.rmtree(probe_dir, ignore_errors=True)
        return {"sinks.files.out_mb": sum(_dir_digest(p)[1] for p in out.values()) / 1e6}

    def layer_metrics(self, spans, counters) -> dict:
        def wall(name):
            return sum(sp.wall_s for sp, _ in _span_named(spans, name))

        m = {}
        m["catalog.meta_s"] = wall("catalog.meta")
        m["render.s"] = wall("render")
        m["render.cpu_s"] = sum(sp.cpu_s for sp, _ in _span_named(spans, "render"))
        m["sinks.files.batch_s"] = wall("sinks.files.batch") - m["render.s"]
        m["sinks.files.zstd_s"] = wall("sinks.files.zstd")
        rows = mb = 0.0
        for sp, _ in _span_named(spans, "sinks.files.batch"):
            for name, metrics in counters.sql_nodes(sp.group):
                if name == "MapInPandas":
                    rows += _num(metrics.get("number of output rows"))
                    mb += (_num(metrics.get("data sent to Python workers"))
                           + _num(metrics.get("data returned from Python workers"))) / 1e6
        m["sinks.files.py_rows"] = int(rows)
        m["sinks.files.py_mb"] = mb
        return m

    def corrupt(self, out: dict) -> None:
        """Smoke-test sabotage: empty the largest part file of one table."""
        import pyarrow as pa

        table = next(iter(out))
        victim = max(_parts(out[table]), key=os.path.getsize)
        with open(victim, "wb") as fh:
            fh.write(pa.Codec("zstd").compress(b"", asbytes=True))


def _num(v: float | None) -> float:
    return 0.0 if v is None else v


# ---------------------------------------------------------------------------
# sync


class Sync:
    """``sync_tables`` → ``sync_report().collect()`` → ``apply_syncs`` into
    a sqlite destination restored from its template before each pass.  The
    traced run adds one checked ``curate`` pass as layer probes: the
    curation operators run ~40 small jobs on tiny inputs, a chain of
    thread hand-offs whose wall time rose 30-70% in runs with 4-12% CPU
    steal on a shared 4-vCPU VM: too unsteady to gate end to end in the
    time the benchmark has."""

    name = "sync"

    def __init__(self, spark, work: str, expect: dict):
        from paradump_spark.catalog import ParquetCatalog

        self.spark = spark
        self.work = work
        self.expect = expect
        self.src = ParquetCatalog(spark, os.path.join(work, "src"))
        self.dst = ParquetCatalog(spark, os.path.join(work, "dst"))
        self.live = os.path.join(work, "dst_live.db")
        self.rows = sum(expect["rows"].values())
        self._acc = None
        self.curate = Curate(spark, os.path.join(work, "curate"), expect["curate"])

    @staticmethod
    def generate(work: str, seed: int, sizes: dict) -> dict:
        expect = gen.make_sync(work, seed, sizes["rows"], sizes["row_groups"])
        expect["curate"] = Curate.generate(os.path.join(work, "curate"), seed,
                                           sizes["curate"])
        return expect

    def prepare(self) -> None:
        shutil.copyfile(self.expect["template"], self.live)

    def _factory(self, traced: bool):
        if not traced:
            return functools.partial(dbconn.connect, self.live)
        sc = self.spark.sparkContext
        self._acc = (sc.accumulator(0.0), sc.accumulator(0), sc.accumulator(0))
        return functools.partial(dbconn.connect_timed, self.live, *self._acc)

    def run_pass(self, tr) -> dict:
        from paradump_spark.sync import apply_syncs, sync_report, sync_tables

        with tr.span("sync_tables") as sp:
            syncs = sp.build(sync_tables, self.src, self.dst,
                             primary_keys=gen.SYNC_PKS)
        with tr.span("diff") as sp:
            report = sp.build(sync_report, syncs)
            sp.plan(report)
            rows = report.collect()
        with tr.span("dml"):
            apply_syncs(syncs, self._factory(tr.enabled), self.expect["columns"],
                        primary_keys=gen.SYNC_PKS)
        return {"report": [(r["table"], r["action"], int(r["cnt"])) for r in rows]}

    def check(self, out: dict) -> None:
        got = {(t, a): c for t, a, c in out["report"]}
        for table, planted in self.expect["planted"].items():
            for action, n in planted.items():
                c = got.get((table, action), 0)
                _expect(c == n, f"sync {table}: report says {c} {action}, planted {n}")
        conn = sqlite3.connect(self.live)
        try:
            for table, want in self.expect["expected"].items():
                have = gen.table_rows(conn, table)
                _expect(len(have) == len(want),
                        f"sync {table}: destination has {len(have)} rows, source {len(want)}")
                _expect(have == want, f"sync {table}: destination rows differ from the source")
        finally:
            conn.close()

    def probe(self, tr, out: dict) -> dict:
        self.curate.check(self.curate.run_pass(tr, probe=True))
        return {}

    def layer_metrics(self, spans, counters) -> dict:
        m = self.curate.layer_metrics(spans, counters)
        m["diff.s"] = sum(sp.wall_s for sp, _ in _span_named(spans, "diff"))
        m["dml.s"] = sum(sp.wall_s for sp, _ in _span_named(spans, "dml"))
        # each full-outer-join run scans both sides of every table once
        scanned = sum(c["spark.input_rows"] for sp, c in spans
                      if sp.name in ("sync_tables", "diff", "dml"))
        m["diff.join_runs"] = scanned / self.rows
        busy_s, rows, batches = self._acc
        m["dml.busy_s"] = float(busy_s.value)
        m["dml.rows"] = int(rows.value)
        m["dml.batches"] = int(batches.value)
        return m

    def corrupt(self, out: dict) -> None:
        """Smoke-test sabotage: lose one destination row after the apply."""
        conn = sqlite3.connect(self.live)
        try:
            conn.execute("DELETE FROM accounts WHERE id = (SELECT min(id) FROM accounts)")
            conn.commit()
        finally:
            conn.close()


# ---------------------------------------------------------------------------
# curate

KNN_K = 10  # knn_join's default k


class Curate:
    """MinHash-CC dedup, SimHash fingerprints, SemDeDup and a self kNN
    join over a planted corpus — many small jobs per pass."""

    name = "curate"

    def __init__(self, spark, work: str, expect: dict):
        self.spark = spark
        self.work = work
        self.expect = expect
        self.rows = expect["docs"] + expect["vecs"]

    @staticmethod
    def generate(work: str, seed: int, sizes: dict) -> dict:
        return gen.make_curate(work, seed, sizes["docs"], sizes["vecs"],
                               sizes["families"])

    def prepare(self) -> None:
        pass

    def run_pass(self, tr, probe: bool = False) -> dict:
        from paradump_spark.operators.dedup import dedup_minhash_cc, simhash_table
        from paradump_spark.operators.semdedup import semantic_dedup
        from paradump_spark.operators.similarity import knn_join

        docs = self.spark.read.parquet(os.path.join(self.work, "documents.parquet"))
        emb = self.spark.read.parquet(os.path.join(self.work, "embeddings.parquet"))
        out = {}
        with tr.span("dedup.minhash_cc", probe) as sp:
            df = sp.build(dedup_minhash_cc, docs, "doc_id", "text")
            sp.plan(df)
            out["minhash_survivors"] = df.count()
        with tr.span("dedup.simhash", probe) as sp:
            df = sp.build(simhash_table, docs, "doc_id", "text")
            sp.plan(df)
            out["simhash"] = {r[0]: r[1] for r in df.collect()}
        with tr.span("semdedup", probe) as sp:
            df = sp.build(semantic_dedup, emb, "vec_id", "embedding", num_clusters=None)
            sp.plan(df)
            out["semdedup_survivors"] = df.count()
        with tr.span("similarity.knn", probe) as sp:
            df = sp.build(knn_join, emb, emb, "vec_id", "embedding")
            sp.plan(df)
            out["knn_rows"] = df.count()
        return out

    def check(self, out: dict) -> None:
        e = self.expect
        _expect(out["minhash_survivors"] == e["doc_survivors"],
                f"minhash_cc kept {out['minhash_survivors']}, planted {e['doc_survivors']}")
        fp = out["simhash"]
        _expect(len(fp) == e["docs"], f"simhash fingerprinted {len(fp)} of {e['docs']} docs")
        _expect(all(fp.get(a) is not None and fp.get(a) == fp.get(b)
                    for a, b in e["exact_doc_pairs"]),
                "simhash: exact copies got different fingerprints")
        _expect(out["semdedup_survivors"] == e["vec_survivors"],
                f"semantic_dedup kept {out['semdedup_survivors']}, planted {e['vec_survivors']}")
        _expect(out["knn_rows"] == e["vecs"] * KNN_K,
                f"knn_join returned {out['knn_rows']} rows, expected {e['vecs'] * KNN_K}")

    def probe(self, tr, out: dict) -> dict:
        return {}

    def layer_metrics(self, spans, counters) -> dict:
        m = {}
        for name, metric in (("dedup.minhash_cc", "dedup.minhash_cc_s"),
                             ("dedup.simhash", "dedup.simhash_s"),
                             ("semdedup", "semdedup.s"),
                             ("similarity.knn", "similarity.knn_s")):
            m[metric] = sum(sp.wall_s for sp, _ in _span_named(spans, name))
        return m

    def corrupt(self, out: dict) -> None:
        """Smoke-test sabotage: one planted duplicate survives."""
        out["semdedup_survivors"] += 1


WORKLOADS = {w.name: w for w in (Dump, Sync, Curate)}
