"""DB sinks — K5 (copy) and K6 (DML apply), executed per partition.

The reference's copy writer binds parameterized multi-row INSERTs on a
destination connection (dataChunkGeneratorCpy src/paradump/paradump.go:
2458-2704 + tableCopyWriter :3423-3450); its sync writer executes one DML
per diff row with kill-switch flags (dataSqlGenerator src/parasync/
parasync.go:3037-3198 + tableDstDbWriter :3201-3247).

Spark restatement: ``df.foreachPartition`` with a DBAPI connection factory
— each executor partition opens its own connection and ``executemany``-s
batches of ``batch_size`` rows (ref insertsize 500, MSSQL clamped to
2099/cntCols, :3729-3734).  The factory is injectable so tests drive it
with sqlite3 and production wires a real driver; ``df.write.jdbc`` remains
the zero-code path when no dialect quirks apply.

DML templates follow the reference (src/parasync/parasync.go:1493-1598):
INSERT all columns; UPDATE SET all non-PK columns WHERE PK matches; DELETE
WHERE PK matches.  (The reference matches UPDATE/DELETE on *all* columns
against a possibly-drifting destination; keying on the PK is the standard
replica-apply contract and is what its templates degenerate to when the
destination row is known.)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame

from paradump_spark.operators.diff import DML_DELETE, DML_INSERT, DML_UPDATE

PARAM_STYLES = {"qmark": "?", "format": "%s"}
MSSQL_MAX_PARAMS = 2100  # ref clamp: insertsize = 2099 / cntCols (:3729-3734)


def clamp_batch_size(batch_size: int, num_cols: int, dialect: str = "mysql") -> int:
    if dialect == "mssql":
        return max(1, min(batch_size, (MSSQL_MAX_PARAMS - 1) // max(1, num_cols)))
    return batch_size


@dataclass
class DmlTemplates:
    """Per-table DML text with placeholder params (ref :1493-1598)."""

    table: str
    columns: list[str]
    pk: list[str]
    placeholder: str = "?"
    quote: str = "`"

    def _q(self, c: str) -> str:
        return f"{self.quote}{c}{self.quote}"

    @property
    def insert_sql(self) -> str:
        cols = ", ".join(self._q(c) for c in self.columns)
        ph = ", ".join(self.placeholder for _ in self.columns)
        return f"INSERT INTO {self._q(self.table)} ({cols}) VALUES ({ph})"

    @property
    def update_sql(self) -> str:
        payload = [c for c in self.columns if c not in self.pk]
        sets = ", ".join(f"{self._q(c)} = {self.placeholder}" for c in payload)
        where = " AND ".join(f"{self._q(k)} = {self.placeholder}" for k in self.pk)
        return f"UPDATE {self._q(self.table)} SET {sets} WHERE {where}"

    @property
    def delete_sql(self) -> str:
        where = " AND ".join(f"{self._q(k)} = {self.placeholder}" for k in self.pk)
        return f"DELETE FROM {self._q(self.table)} WHERE {where}"


@dataclass
class ApplyOptions:
    """Kill-switches mirror ``--writer-no-insert/-update/-delete``
    (src/parasync/parasync.go:3404-3406)."""

    no_insert: bool = False
    no_update: bool = False
    no_delete: bool = False
    batch_size: int = 500
    dialect: str = "mysql"
    extra: dict = field(default_factory=dict)


def apply_diff(
    classified: DataFrame,
    connection_factory: Callable[[], object],
    templates: DmlTemplates,
    options: ApplyOptions | None = None,
) -> None:
    """K6: apply a ``diff_classified`` frame (pk…, dmltype, payload…) to a
    destination DB.  Runs on executors; each partition gets one connection
    and commits once.  Rows are grouped by dmltype and flushed with
    ``executemany`` every ``batch_size`` rows.
    """
    options = options or ApplyOptions()
    pk = list(templates.pk)
    payload = [c for c in templates.columns if c not in pk]
    bs = clamp_batch_size(options.batch_size, len(templates.columns), options.dialect)
    ins_sql, upd_sql, del_sql = (
        templates.insert_sql,
        templates.update_sql,
        templates.delete_sql,
    )
    skip = {
        DML_INSERT: options.no_insert,
        DML_UPDATE: options.no_update,
        DML_DELETE: options.no_delete,
    }
    col_order = templates.columns

    def run_partition(rows) -> None:
        conn = connection_factory()
        cur = conn.cursor()
        bufs: dict[str, list[tuple]] = {DML_INSERT: [], DML_UPDATE: [], DML_DELETE: []}

        def flush(kind: str) -> None:
            buf = bufs[kind]
            if not buf:
                return
            sql = {DML_INSERT: ins_sql, DML_UPDATE: upd_sql, DML_DELETE: del_sql}[kind]
            cur.executemany(sql, buf)
            buf.clear()

        for row in rows:
            kind = row["dmltype"]
            if kind not in bufs or skip.get(kind):
                continue
            if kind == DML_INSERT:
                params = tuple(row[c] for c in col_order)
            elif kind == DML_UPDATE:
                params = tuple(row[c] for c in payload) + tuple(row[k] for k in pk)
            else:
                params = tuple(row[k] for k in pk)
            bufs[kind].append(params)
            if len(bufs[kind]) >= bs:
                flush(kind)
        for kind in (DML_DELETE, DML_UPDATE, DML_INSERT):
            flush(kind)
        conn.commit()
        conn.close()

    classified.foreachPartition(run_partition)


def copy_table(
    df: DataFrame,
    connection_factory: Callable[[], object],
    table: str,
    columns: Sequence[str] | None = None,
    batch_size: int = 500,
    dialect: str = "mysql",
    placeholder: str = "?",
    quote: str = "`",
) -> None:
    """K5: batched parameterized INSERT copy of a whole DataFrame into a
    destination table (ref dataChunkGeneratorCpy + tableCopyWriter).
    Prefer ``df.write.jdbc(mode='append', batchsize=…)`` when a JDBC
    driver fits; this path exists for DBAPI targets and dialect quirks."""
    cols = list(columns or df.columns)
    tmpl = DmlTemplates(table, cols, pk=[], placeholder=placeholder, quote=quote)
    bs = clamp_batch_size(batch_size, len(cols), dialect)
    ins_sql = tmpl.insert_sql

    def run_partition(rows) -> None:
        conn = connection_factory()
        cur = conn.cursor()
        buf: list[tuple] = []
        for row in rows:
            buf.append(tuple(row[c] for c in cols))
            if len(buf) >= bs:
                cur.executemany(ins_sql, buf)
                buf.clear()
        if buf:
            cur.executemany(ins_sql, buf)
        conn.commit()
        conn.close()

    df.foreachPartition(run_partition)
