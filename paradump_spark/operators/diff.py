"""Table diff — the Spark restatement of parasync's sorted-merge full-outer
diff (J1, src/parasync/parasync.go:2937-3030) and its stats monitor
(A2, :3250-3343).

The reference sorts both chunks' rows *as strings* over all columns and
merge-walks them, classifying src-only -> INSERT, dst-only -> DELETE,
PK-equal-payload-different -> UPDATE, parsing temporal columns on the fly
(compareRow, src/parasync/parasync.go:2819-2910).

Spark-first restatement: ONE full-outer join on the PK, then classify with
null-safe payload comparison.  Catalyst picks sort-merge join (the exact
algorithm the reference hand-rolls) or broadcast when one side is small; AQE
splits skewed PK ranges at runtime.  One shuffle yields all three classes —
strictly less data movement than the reference's re-read-both-sides design.

Unlike the reference we compare *typed* values, not strings: the
string-compare weirdness (O3) and the per-row ``time.Parse`` fallback (F11)
disappear because both sides are already typed columns; callers who ingest
text cast with ``to_timestamp`` up front.

NULL semantics: payload equality uses Spark's null-safe ``<=>`` so
NULL==NULL is "unchanged" — matching the reference, whose UPDATE compare
treats two invalid NullStrings as equal (src/parasync/parasync.go:2870-2880).
Row presence is keyed off explicit marker columns added before the join, not
PK nullness, so all-NULL PK tuples (possible with user-supplied key lists)
still classify correctly.

Output payload follows the reference's DML row images
(src/parasync/parasync.go:3037-3198): INSERT and UPDATE carry the *source*
row image (an UPDATE that sets a column to NULL must carry that NULL);
DELETE carries the destination image (only the PK matters to the DELETE).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DML_INSERT = "I"
DML_UPDATE = "U"
DML_DELETE = "D"
DML_NOOP = "N"

_SRC_MARK = "__src_exists"
_DST_MARK = "__dst_exists"


@dataclass
class DiffResult:
    """Classified diff: three DataFrames sharing the source/destination schema.

    ``classified`` the :func:`diff_classified` frame the three below filter
    ``inserts``  rows present only in src (apply as INSERT on dst)
    ``updates``  PK in both, payload differs (apply as UPDATE on dst)
    ``deletes``  rows present only in dst (apply as DELETE on dst)
    """

    classified: DataFrame
    inserts: DataFrame
    updates: DataFrame
    deletes: DataFrame

    def counts(self) -> dict[str, int]:
        return dml_counts(self.classified)


def _payload_changed(payload: Sequence[str]) -> Column:
    """True when any non-PK column differs, null-safely."""
    if not payload:
        return F.lit(False)
    terms = [~F.col(f"__src.{c}").eqNullSafe(F.col(f"__dst.{c}")) for c in payload]
    return reduce(lambda a, b: a | b, terms)


def diff_classified(
    src: DataFrame,
    dst: DataFrame,
    pk: Sequence[str],
    payload: Sequence[str] | None = None,
    keep_noops: bool = False,
) -> DataFrame:
    """Full-outer diff -> one DataFrame with ``dmltype`` ∈ {I,U,D} (+N when
    ``keep_noops``) plus the PK and the row image to apply.

    Column layout: pk..., dmltype, payload... — src image for I/U/N, dst
    image for D (a DELETE only needs the key; the reference renders the
    whole dst row into the WHERE, src/parasync/parasync.go:3140-3180).
    """
    pk = list(pk)
    if payload is None:
        payload = [c for c in src.columns if c not in pk]
    s = src.withColumn(_SRC_MARK, F.lit(True)).alias("__src")
    d = dst.withColumn(_DST_MARK, F.lit(True)).alias("__dst")
    on = [F.col(f"__src.{k}").eqNullSafe(F.col(f"__dst.{k}")) for k in pk]
    joined = s.join(d, on=reduce(lambda a, b: a & b, on), how="full_outer")

    src_present = F.col(f"__src.{_SRC_MARK}").isNotNull()
    dst_present = F.col(f"__dst.{_DST_MARK}").isNotNull()
    dmltype = (
        F.when(src_present & ~dst_present, F.lit(DML_INSERT))
        .when(~src_present & dst_present, F.lit(DML_DELETE))
        .when(_payload_changed(payload), F.lit(DML_UPDATE))
        .otherwise(F.lit(DML_NOOP))
    )

    key_cols = [
        F.coalesce(F.col(f"__src.{k}"), F.col(f"__dst.{k}")).alias(k) for k in pk
    ]
    # Row image by class: src payload when the src row exists (I/U/N),
    # dst payload otherwise (D).  NOT coalesce — an UPDATE to NULL must
    # carry NULL, not the stale dst value (reference builds UPDATEs from
    # the source row image, src/parasync/parasync.go:3100-3138).
    val_cols = [
        F.when(src_present, F.col(f"__src.{c}"))
        .otherwise(F.col(f"__dst.{c}"))
        .alias(c)
        for c in payload
    ]
    out = joined.select(*key_cols, dmltype.alias("dmltype"), *val_cols)
    if not keep_noops:
        out = out.where(F.col("dmltype") != DML_NOOP)
    return out


def dml_counts(classified: DataFrame) -> dict[str, int]:
    """Rows per class (I/U/D) of a :func:`diff_classified` frame: one
    ``groupBy("dmltype")`` action, so the full-outer join runs once, not
    once per class."""
    got = {r["dmltype"]: r["count"] for r in classified.groupBy("dmltype").count().collect()}
    return {k: got.get(k, 0) for k in (DML_INSERT, DML_UPDATE, DML_DELETE)}


def _disk_pin(classified: DataFrame) -> DataFrame:
    """Pin a classified diff so that every action after the first reads
    the join's output instead of running the full-outer join again.

    ``localCheckpoint(eager=False)``: no job of its own, the first action
    writes the blocks as it runs.  Under AQE the call itself runs the
    join's shuffle map stages.  ``DISK_ONLY``: the default memory level
    was within noise of it in throughput but raised the driver's peak RSS
    by 300-400 MB on 2 x 150k-row tables (local[3]); on disk it stays
    flat.  The blocks belong to the returned
    frame and ContextCleaner frees them with it; nothing enters the
    session's CacheManager.  The pin drops lineage: a lost executor fails
    a later action instead of recomputing the join."""
    return classified.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)


def diff_tables(
    src: DataFrame,
    dst: DataFrame,
    pk: Sequence[str],
    payload: Sequence[str] | None = None,
) -> DiffResult:
    """The `parasync` pipeline as three DataFrames (SURVEY §7 phase 3).

    The classified plan is built once and fanned out with filters; nothing
    is pinned here — at 100 TB the caller decides.  :meth:`DiffResult.counts`
    is one action.  Any other action re-executes the full-outer join
    (exchange reuse works within one query plan, not across actions); a
    caller reading two or more classes in separate actions should diff a
    pinned frame the way :func:`paradump_spark.sync.sync_tables` does
    (``localCheckpoint(eager=False, storageLevel=DISK_ONLY)``), not
    ``persist()`` one, which leaves the blocks in the session's
    CacheManager until someone unpersists them.
    """
    classified = diff_classified(src, dst, pk, payload)
    return DiffResult(
        classified=classified,
        inserts=classified.where(F.col("dmltype") == DML_INSERT).drop("dmltype"),
        updates=classified.where(F.col("dmltype") == DML_UPDATE).drop("dmltype"),
        deletes=classified.where(F.col("dmltype") == DML_DELETE).drop("dmltype"),
    )


def diff_stats(classified: DataFrame, table_name: str = "table") -> DataFrame:
    """A2 stats monitor: per (table, phase, action) row counts.

    The reference accumulates these in a goroutine fed by channel events
    (src/parasync/parasync.go:3250-3343); here it is a groupBy over the
    classified diff — partial-aggregated map-side, one small shuffle.
    Pass a ``keep_noops=True`` classified frame to get NoOp counts like
    the reference's monitor; a filtered frame reports I/U/D only.
    """
    action = (
        F.when(F.col("dmltype") == DML_INSERT, F.lit("Insert"))
        .when(F.col("dmltype") == DML_UPDATE, F.lit("Update"))
        .when(F.col("dmltype") == DML_DELETE, F.lit("Delete"))
        .otherwise(F.lit("NoOp"))
    )
    return (
        classified.select(
            F.lit(table_name).alias("table"),
            F.lit("DstWriter").alias("phase"),
            action.alias("action"),
        )
        .groupBy("table", "phase", "action")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def schema_drift(src: DataFrame, dst: DataFrame) -> dict:
    """Schema comparison before a diff/sync — the Spark restatement of the
    reference's destination DDL check (CheckTableOnDestination,
    src/paradump/paradump.go:1419-1454, which DeepEquals columnInfos and
    refuses mismatched tables).

    Returns ``{"only_src": [...], "only_dst": [...], "type_mismatch":
    [(col, src_type, dst_type)...], "common": [...]}``.  ``common`` (minus
    mismatches) is the payload to pass to :func:`diff_classified` when
    syncing across a lagging migration — compare what both sides have,
    surface the drift instead of flooding UPDATEs or failing."""
    st = {f.name: f.dataType for f in src.schema.fields}
    dt = {f.name: f.dataType for f in dst.schema.fields}
    common = [c for c in st if c in dt]
    return {
        "only_src": [c for c in st if c not in dt],
        "only_dst": [c for c in dt if c not in st],
        "type_mismatch": [
            (c, str(st[c]), str(dt[c])) for c in common if st[c] != dt[c]
        ],
        "common": [c for c in common if st[c] == dt[c]],
    }
