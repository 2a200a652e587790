"""Top-level sync orchestration — the ``parasync`` entry semantics
(src/parasync/parasync.go:3370-3689) as one function call: diff every
table between a source and destination catalog, report per-table stats
(A2 statsfile), optionally apply the DML to a destination via a DBAPI
connection factory (K6).

The reference's seven-stage goroutine pipeline (browser → src/dst readers
→ comparators → generators → writers) collapses into one full-outer join
per table; Spark's scheduler replaces the channel plumbing.  Like the
reference's single comparator walk feeding both the stats monitor and the
DML generators, each join runs once: its classified output is pinned to
disk, the report's first action writes it, and the DML apply reads it
back without scanning or shuffling either side again.  A report with no
apply reads each join once, so :func:`classify_tables` leaves the frames
unpinned and pays no pin write.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame

from paradump_spark.catalog import TESTDATA_PRIMARY_KEYS, ParquetCatalog
from paradump_spark.operators.diff import _disk_pin, diff_classified, diff_stats
from paradump_spark.sinks.dml import ApplyOptions, DmlTemplates, apply_diff


@dataclass
class SyncOptions:
    apply: ApplyOptions = field(default_factory=ApplyOptions)
    excludes: list[str] = field(default_factory=list)
    keep_noops_in_stats: bool = True  # ref stats monitor counts NoOps
    # two-phase mode: checksum-compare this many PK chunks per table and
    # row-diff only the changed ones (operators.checksum.incremental_diff);
    # None = classic full diff.  NB: NoOp counts then cover changed chunks
    # only — clean chunks are proven identical by checksum, not row-read.
    incremental_chunks: int | None = None


@dataclass
class TableSync:
    table: str
    classified: DataFrame  # pk…, dmltype, payload…; disk-pinned by sync_tables
    stats: DataFrame  # (table, phase, action, cnt)


def _classify(
    src: ParquetCatalog,
    dst: ParquetCatalog,
    tables: list[str] | None,
    primary_keys: dict[str, list[str]] | None,
    options: SyncOptions | None,
) -> list[tuple[str, DataFrame]]:
    """(table, classified frame) for every table present in both catalogs."""
    options = options or SyncOptions()
    pks = primary_keys or TESTDATA_PRIMARY_KEYS
    names = tables or [
        t for t in src.list_tables(options.excludes or None) if t in set(dst.list_tables())
    ]
    if tables and options.excludes:
        # excludes apply to explicit lists too — a flag the user passed
        # must never be a silent no-op
        names = [n for n in names if not any(x in n for x in options.excludes)]
    out: list[tuple[str, DataFrame]] = []
    for name in names:
        pk = pks.get(name)
        if not pk:
            continue  # ref: tables without a usable PK are skipped (err bit 1)
        if options.incremental_chunks:
            from paradump_spark.operators.checksum import incremental_diff

            classified = incremental_diff(
                src.load(name),
                dst.load(name),
                pk,
                num_chunks=options.incremental_chunks,
                keep_noops=options.keep_noops_in_stats,
            )
        else:
            classified = diff_classified(
                src.load(name), dst.load(name), pk, keep_noops=options.keep_noops_in_stats
            )
        out.append((name, classified))
    return out


def classify_tables(
    src: ParquetCatalog,
    dst: ParquetCatalog,
    tables: list[str] | None = None,
    primary_keys: dict[str, list[str]] | None = None,
    options: SyncOptions | None = None,
) -> list[TableSync]:
    """Diff every table present in both catalogs; returns per-table
    classified frames + stats, unpinned: every action on a frame or its
    stats runs the table's join.  For a caller that reads each table
    once, such as a report with no apply; :func:`sync_tables` pins."""
    return [
        TableSync(name, c, diff_stats(c, name))
        for name, c in _classify(src, dst, tables, primary_keys, options)
    ]


def sync_tables(
    src: ParquetCatalog,
    dst: ParquetCatalog,
    tables: list[str] | None = None,
    primary_keys: dict[str, list[str]] | None = None,
    options: SyncOptions | None = None,
) -> list[TableSync]:
    """:func:`classify_tables` with each classified frame pinned to local
    disk (``operators.diff._disk_pin``), for a report and an apply.

    Under AQE the pin runs each join's shuffle map stages here, at call
    time (both sides are scanned once); the first action on the frame or
    its stats — usually ``sync_report(...).collect()`` — runs the join and
    writes the blocks, and every later one (:func:`apply_syncs`) reads
    them.  The blocks are freed with the returned frames."""
    out: list[TableSync] = []
    for name, c in _classify(src, dst, tables, primary_keys, options):
        pinned = _disk_pin(c)
        out.append(TableSync(name, pinned, diff_stats(pinned, name)))
    return out


def sync_report(syncs: list[TableSync]) -> DataFrame:
    """A2 statsfile: one DataFrame of (table, phase, action, cnt) across
    all tables (src/parasync/parasync.go:3250-3343)."""
    return reduce(lambda a, b: a.unionByName(b), [s.stats for s in syncs])


def apply_syncs(
    syncs: list[TableSync],
    connection_factory: Callable[[], object],
    columns: dict[str, list[str]],
    primary_keys: dict[str, list[str]] | None = None,
    options: SyncOptions | None = None,
    quote: str = "`",
) -> None:
    """K6: apply each table's classified diff to the destination DB."""
    options = options or SyncOptions()
    pks = primary_keys or TESTDATA_PRIMARY_KEYS
    for s in syncs:
        to_apply = s.classified.where("dmltype <> 'N'")
        tmpl = DmlTemplates(s.table, columns[s.table], pks[s.table], quote=quote)
        apply_diff(to_apply, connection_factory, tmpl, options.apply)
