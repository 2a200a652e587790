"""Top-level dump orchestration — the ``paradump`` entry semantics
(src/paradump/paradump.go:3477-3877) as one function call.

Mode map (ref ``-dumpmode``, :3493): ``sql`` → K1 insert files, ``csv`` →
K2 native CSV, ``csv_exact`` → K2 with the reference's exact cell rules,
``parquet`` → lake-native, ``nul`` → K4 noop (benchmark mode).

Scheduling: largest table first (O4, :1414) so the long pole starts
immediately; Spark pipelines the rest.  Exclusion filters are the P5
substring semantics.  Each table write is a distributed ``df.write`` —
the browser/reader/generator/writer goroutine pipeline collapses into
one Spark job per table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from paradump_spark.catalog import ParquetCatalog, _path_size
from paradump_spark.sinks.files import (
    write_csv,
    write_jsonl,
    write_noop,
    write_orc,
    write_parquet,
    write_sql_inserts,
)

DUMP_MODES = ("sql", "csv", "csv_exact", "jsonl", "parquet", "orc", "nul")


@dataclass
class DumpResult:
    table: str
    mode: str
    path: str | None
    rows: int | None = None


@dataclass
class DumpOptions:
    mode: str = "sql"
    insertsize: int = 500  # ref -insertsize default (:3490)
    dialect: str = "mysql"
    compression: str | None = None
    compression_level: int = 1  # ref -dumpcompresslevel default (:3498)
    excludes: list[str] = field(default_factory=list)
    # extra pass per table when True; sql mode reports rows without one
    count_rows: bool = False


def dump_tables(
    catalog: ParquetCatalog,
    out_dir: str,
    tables: list[str] | None = None,
    options: DumpOptions | None = None,
) -> list[DumpResult]:
    """Dump every (non-excluded) table of ``catalog`` to ``out_dir``.

    Returns one DumpResult per table in scheduling order (largest first).
    """
    options = options or DumpOptions()
    if options.mode not in DUMP_MODES:
        raise ValueError(
            f"unknown dump mode {options.mode!r}; expected one of {DUMP_MODES}"
        )
    names = tables or catalog.list_tables(options.excludes or None)
    if tables and options.excludes:
        names = [n for n in names if not any(x in n for x in options.excludes)]
    # O4: largest first (_path_size walks directory-backed tables too)
    names = sorted(names, key=lambda n: _path_size(catalog.path(n)), reverse=True)
    results: list[DumpResult] = []
    for name in names:
        df = catalog.load(name)
        meta = catalog.meta(name, df)
        path: str | None = os.path.join(out_dir, name)
        rows = None
        if options.mode == "sql":
            # the statement framing counts every partition: the total is free
            rows = write_sql_inserts(
                df,
                name,
                path,
                meta=meta,
                dialect=options.dialect,
                insertsize=options.insertsize,
                compression=options.compression,
                compression_level=options.compression_level,
            )
        elif options.mode == "csv":
            write_csv(
                df, path, meta=meta, compression=options.compression,
                compression_level=options.compression_level,
            )
        elif options.mode == "csv_exact":
            write_csv(
                df, path, meta=meta, exact=True,
                compression=options.compression,
                compression_level=options.compression_level,
            )
        elif options.mode == "jsonl":
            write_jsonl(
                df, path, compression=options.compression,
                compression_level=options.compression_level,
            )
        elif options.mode == "parquet":
            write_parquet(df, path)
        elif options.mode == "orc":
            write_orc(df, path)
        elif options.mode == "nul":
            write_noop(df)
            path = None
        if rows is None and options.count_rows:
            rows = df.count()
        results.append(DumpResult(name, options.mode, path, rows))
    return results


def write_manifest(
    catalog: ParquetCatalog,
    out_dir: str,
    results: list[DumpResult],
) -> str:
    """Write ``_manifest.json`` next to a dump: per-table row count and
    order-insensitive content checksum (operators.checksum.table_checksum)
    computed from the SOURCE tables at dump time.

    A later :func:`verify_dump` (or any md5-capable engine) recomputes the
    same numbers from the restored data — end-to-end dump/restore
    verification without row-by-row comparison.  One extra scan per table;
    skip it when the dump itself is the verification (noop mode).
    """
    import json
    import os

    from paradump_spark.operators.checksum import table_checksum

    entries = {}
    for r in results:
        row = table_checksum(catalog.load(r.table)).collect()[0]
        entries[r.table] = {
            "mode": r.mode,
            "path": r.path,
            "n_rows": int(row["n_rows"]),
            "hash_sum": str(row["hash_sum"]),
        }
    manifest_path = os.path.join(out_dir, "_manifest.json")
    with open(manifest_path, "w") as fh:
        json.dump(entries, fh, indent=2, sort_keys=True)
    return manifest_path


def verify_dump(catalog: ParquetCatalog, manifest_path: str) -> dict[str, bool]:
    """Recompute each manifest entry's (n_rows, hash_sum) against the
    tables visible in ``catalog`` (e.g. a restored copy); True = match."""
    import json

    from paradump_spark.operators.checksum import table_checksum

    with open(manifest_path) as fh:
        entries = json.load(fh)
    out = {}
    for table, meta in entries.items():
        row = table_checksum(catalog.load(table)).collect()[0]
        out[table] = (
            int(row["n_rows"]) == meta["n_rows"]
            and str(row["hash_sum"]) == meta["hash_sum"]
        )
    return out
