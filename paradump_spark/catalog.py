"""Dataset catalog — the Spark restatement of the reference's table lister
(S1, src/paradump/paradump.go:1309-1368) and name-exclusion filter
(P5, :1356-1366), generalized over parquet directories and Spark catalogs.

Known primary keys for the driver-provided TPC-H-ish testdata are declared
here so split planning and diff have PK metadata without a live DB.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from paradump_spark.meta import TableMeta, meta_from_dataframe

# PKs of the driver testdata tables (TESTDATA.md).
TESTDATA_PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],  # composite PK
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


@dataclass
class ParquetCatalog:
    """A directory of ``<table>.parquet`` files acting as one schema.

    ``list_tables(excludes)`` mirrors the reference semantics: enumerate
    base tables, drop any whose qualified name contains an exclusion
    substring (src/paradump/paradump.go:1356-1366).
    """

    spark: SparkSession
    root: str
    db_name: str = "testdata"
    # table -> (file listing, inferred schema)
    _schemas: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    def list_tables(self, excludes: list[str] | None = None) -> list[str]:
        names = sorted(
            f[: -len(".parquet")]
            for f in os.listdir(self.root)
            if f.endswith(".parquet")
        )
        if excludes:
            names = [
                n
                for n in names
                if not any(x in f"{self.db_name}.{n}" for x in excludes)
            ]
        return names

    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    def load(self, table: str) -> DataFrame:
        """The table's DataFrame; the schema is inferred (one Spark job)
        only when the table's files (names, sizes, mtimes) changed since
        the last inference."""
        path = self.path(table)
        listing = _listing(path)
        memo = self._schemas.get(table)
        if listing is not None and memo is not None and memo[0] == listing:
            return self.spark.read.schema(memo[1]).parquet(path)
        df = self.spark.read.parquet(path)
        if listing is not None:
            self._schemas[table] = (listing, df.schema)
        return df

    def meta(self, table: str, df: DataFrame | None = None) -> TableMeta:
        """Introspect (S2 analogue): schema from parquet footer, size from fs.

        Pass the ``df`` already loaded for ``table`` to reuse its schema;
        each ``load`` runs a schema-inference job.
        """
        schema = (df if df is not None else self.load(table)).schema
        return meta_from_dataframe(
            self.db_name,
            table,
            schema,
            primary_key=TESTDATA_PRIMARY_KEYS.get(table, []),
            size_bytes=_path_size(self.path(table)),
        )

    def load_all(self, excludes: list[str] | None = None) -> dict[str, DataFrame]:
        """All tables, largest-first — the reference schedules big tables
        first (O4, src/paradump/paradump.go:1414); with lazy DataFrames the
        ordering matters only when the caller submits jobs in list order."""
        names = self.list_tables(excludes)
        names.sort(key=lambda n: _path_size(self.path(n)), reverse=True)
        return {n: self.load(n) for n in names}


def _listing(p: str) -> list[tuple[str, int, int]] | None:
    """(relative name, size, mtime_ns) of every file under ``p``; None
    when ``p`` is not on the local file system."""
    if not os.path.exists(p):
        return None
    if not os.path.isdir(p):
        st = os.stat(p)
        return [("", st.st_size, st.st_mtime_ns)]
    out = []
    for d, _, fs in os.walk(p):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out.append((os.path.relpath(os.path.join(d, f), p), st.st_size, st.st_mtime_ns))
    return sorted(out)


def _path_size(p: str, suffix: str | None = None) -> int:
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(p)
            for f in fs
            if suffix is None or f.endswith(suffix)
        )
    return os.path.getsize(p) if os.path.exists(p) else 0


def _parquet_ts_arrow_type(path: str, col: str = "ts"):
    """The footer-declared arrow type of ``col`` (file or directory of
    part files; None when the column is absent)."""
    import pyarrow.parquet as papq

    if os.path.isdir(path):
        for d, _, fs in os.walk(path):
            for f in sorted(fs):
                if f.endswith(".parquet"):
                    path = os.path.join(d, f)
                    break
            else:
                continue
            break
    schema = papq.read_schema(path)
    return schema.field(col).type if col in schema.names else None


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """events table with ``ts`` normalized to session-TZ TIMESTAMP.

    The driver has shipped the events parquet with three different ``ts``
    physical types across rounds; adapt from the FOOTER type (pyarrow —
    exact, no guessing) instead of assuming one:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
      read raw nanos via ``spark.sql.legacy.parquet.nanosAsLong`` and
      floor-convert to micros (the truncation DuckDB applies casting
      TIMESTAMP_NS → TIMESTAMP).  The legacy flag is SCOPED: saved and
      restored around the read (the analyzer captures it eagerly, so the
      lazy execution is unaffected — tests/test_review_fixes.py proves a
      post-restore collect), and it is never touched on the other paths,
      so a later unrelated parquet read in the same session cannot be
      silently re-typed;
    - bare INT64 (no logical type): magnitude-probe one value — epoch
      nanos for any plausible date (±10 years of 2024) exceed 1e17 while
      epoch micros stay below it — and convert accordingly, so a future
      round shipping genuine int64 micros is not divided by 1000;
    - parquet timestamp[us] with isAdjustedToUTC=false: Spark infers
      TIMESTAMP_NTZ; cast to TIMESTAMP (session TZ is pinned UTC in
      `paradump_spark.session`, so the wall-clock value is preserved and
      matches DuckDB's naive TIMESTAMP);
    - already TIMESTAMP: pass through.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    arrow_t = _parquet_ts_arrow_type(path)
    if arrow_t == pa.timestamp("ns"):
        saved = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            raw = spark.read.parquet(path)
            raw.schema  # force analysis while the flag is live
        finally:
            if saved is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", saved)
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    raw = spark.read.parquet(path)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        probe = raw.select("ts").where(F.col("ts").isNotNull()).limit(1).collect()
        unit_div = 1 if not probe or abs(probe[0][0]) < int(1e17) else 1000
        return raw.withColumn(
            "ts", F.expr(f"timestamp_micros(ts div {unit_div})")
        )
    if ts_type == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw
