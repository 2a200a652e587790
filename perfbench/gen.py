"""Seeded input generators for the benchmark workloads.

Everything here is numpy/pyarrow/sqlite3 — no Spark — so generation time
never lands in the measured set-up.  The same ``(seed, sizes)`` always
writes byte-identical parquet files, and every generator asserts primary-
key uniqueness before it writes: a non-unique declared key turns a
perturbation into spurious UPDATEs (the testdata ``lineitem`` key is not
unique, which is why the sync workload does not use it).

Each ``make_*`` returns a plain dict of the expectations the workload's
output check compares against (row counts, planted change counts,
planted duplicate families, the destination checksum).
"""

from __future__ import annotations

import os
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Escape-heavy fragments: quotes, backslashes, newlines, CR, ^Z, tabs,
# NUL, accented BMP text and non-BMP code points (emoji, musical G-clef).
_PLAIN = ["alpha", "beta", "gamma", "delta", "omega", "row", "key", "x", "42", " "]
_SPECIAL = ["'", '"', "\\", "\n", "\r", "\t", "\x1a", "é", "ß", "😀", "𝄞", "''", "\\n"]
_NUL = "\x00"


def _string_pool(rng: np.random.Generator, size: int, nul: bool) -> np.ndarray:
    """``size`` distinct escape-heavy strings (index-suffixed, so distinct)."""
    frags = _PLAIN + _SPECIAL + ([_NUL] if nul else [])
    picks = rng.integers(0, len(frags), size=(size, 8))
    lens = rng.integers(1, 9, size=size)
    out = [
        "".join(frags[j] for j in picks[i, : lens[i]]) + f"#{i}" for i in range(size)
    ]
    return np.array(out, dtype=object)


def _with_nulls(rng: np.random.Generator, values: np.ndarray, rate: float) -> list:
    mask = rng.random(len(values)) < rate
    out = values.tolist()
    for i in np.flatnonzero(mask):
        out[i] = None
    return out


def _assert_unique(keys: np.ndarray, what: str) -> None:
    if len(np.unique(keys)) != len(keys):
        raise ValueError(f"{what}: generated primary key is not unique")


def _write(table: pa.Table, path: str, row_groups: int) -> None:
    """One parquet file of ``row_groups`` row groups, so the scan can
    split it into several tasks."""
    per_group = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=per_group, compression="snappy")


# ---------------------------------------------------------------------------
# dump


def make_dump(root: str, seed: int, rows: int, row_groups: int) -> dict:
    """Two tables, ``items`` (single bigint PK) and ``lines`` (composite
    PK), ``rows`` rows in total, written to ``root/<table>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    pool = _string_pool(rng, 4096, nul=True)
    n_items = rows * 2 // 5
    n_lines = rows - n_items
    base = np.datetime64("2024-01-01T00:00:00", "us")

    ids = rng.permutation(n_items).astype(np.int64) * 7 + 1
    _assert_unique(ids, "dump.items")
    created = base + rng.integers(0, 86_400 * 365 * 10**6, n_items).astype(
        "timedelta64[us]"
    )
    # every fourth timestamp on a whole second: exercises the fraction trimmer
    created[::4] = created[::4].astype("datetime64[s]").astype("datetime64[us]")
    items = pa.table(
        {
            "id": ids,
            "name": pa.array(pool[rng.integers(0, len(pool), n_items)], pa.string()),
            "note": pa.array(
                _with_nulls(rng, pool[rng.integers(0, len(pool), n_items)], 0.2),
                pa.string(),
            ),
            "price": pa.array(
                _with_nulls(rng, rng.integers(0, 10**7, n_items) / 64.0, 0.05),
                pa.float64(),
            ),
            "ratio": pa.array(rng.standard_normal(n_items) * 1e-3, pa.float64()),
            "qty": pa.array(rng.integers(-1000, 1000, n_items).astype(np.int32)),
            "created": pa.array(created, pa.timestamp("us", tz="UTC")),
        }
    )

    n_orders = max(1, n_lines // 4)
    order_id = rng.integers(0, n_orders, n_lines).astype(np.int64)
    order_id.sort()
    # line numbers restart per order: unique (order_id, line_no) by construction
    starts = np.r_[0, np.flatnonzero(np.diff(order_id)) + 1]
    line_no = (np.arange(n_lines) - np.repeat(starts, np.diff(np.r_[starts, n_lines])))
    line_no = line_no.astype(np.int32) + 1
    _assert_unique(order_id * (1 << 32) + line_no, "dump.lines")
    shipped = base + rng.integers(0, 86_400 * 365 * 10**6, n_lines).astype(
        "timedelta64[us]"
    )
    lines = pa.table(
        {
            "order_id": order_id,
            "line_no": line_no,
            "comment": pa.array(pool[rng.integers(0, len(pool), n_lines)], pa.string()),
            "amount": pa.array(rng.integers(0, 10**9, n_lines) / 64.0, pa.float64()),
            "shipped": pa.array(
                _with_nulls(rng, shipped, 0.1), pa.timestamp("us", tz="UTC")
            ),
            "status": pa.array(rng.choice(np.array(["O", "F", "P"]), n_lines)),
        }
    )
    _write(items, os.path.join(root, "items.parquet"), row_groups)
    _write(lines, os.path.join(root, "lines.parquet"), row_groups)
    return {"rows": {"items": n_items, "lines": n_lines}}


# ---------------------------------------------------------------------------
# sync

SYNC_PKS = {"accounts": ["id"], "ledger": ["acct", "seq"]}

_SYNC_DDL = {
    "accounts": "CREATE TABLE accounts (id INTEGER PRIMARY KEY, name TEXT, "
    "balance REAL, score INTEGER, tag TEXT)",
    "ledger": "CREATE TABLE ledger (acct INTEGER, seq INTEGER, memo TEXT, "
    "amount REAL, kind TEXT, PRIMARY KEY (acct, seq))",
}


def table_rows(conn: sqlite3.Connection, table: str) -> list[tuple]:
    """Every row of a sqlite table in primary-key order, as the Python
    values sqlite was bound with."""
    pk = ", ".join(SYNC_PKS[table])
    return conn.execute(f"SELECT * FROM {table} ORDER BY {pk}").fetchall()


# A sync table is {column: object ndarray of Python values (None = NULL)}.
_SYNC_TYPES = {
    "accounts": {"id": pa.int64(), "name": pa.string(), "balance": pa.float64(),
                 "score": pa.int64(), "tag": pa.string()},
    "ledger": {"acct": pa.int64(), "seq": pa.int64(), "memo": pa.string(),
               "amount": pa.float64(), "kind": pa.string()},
}


def _obj(values) -> np.ndarray:
    out = np.empty(len(values), dtype=object)
    out[:] = values if isinstance(values, list) else values.tolist()
    return out


def _sync_tables(rng: np.random.Generator, rows: int) -> dict[str, dict]:
    pool = _string_pool(rng, 4096, nul=False)
    ids = rng.permutation(rows * 3)[:rows].astype(np.int64)
    _assert_unique(ids, "sync.accounts")
    accounts = {
        "id": _obj(ids),
        "name": _obj(pool[rng.integers(0, len(pool), rows)]),
        # multiples of 1/64: exact in binary, so every sum is order-free
        "balance": _obj(rng.integers(-10**8, 10**8, rows) / 64.0),
        "score": _obj(_with_nulls(rng, rng.integers(0, 1000, rows), 0.1)),
        "tag": _obj(_with_nulls(rng, pool[rng.integers(0, len(pool), rows)], 0.3)),
    }
    n_acct = max(1, rows // 8)
    acct = rng.integers(0, n_acct, rows).astype(np.int64)
    acct.sort()
    starts = np.r_[0, np.flatnonzero(np.diff(acct)) + 1]
    seq = np.arange(rows) - np.repeat(starts, np.diff(np.r_[starts, rows]))
    seq = seq.astype(np.int64) * 2 + 1  # odd: even seqs are free for planted deletes
    _assert_unique(acct * (1 << 32) + seq, "sync.ledger")
    ledger = {
        "acct": _obj(acct),
        "seq": _obj(seq),
        "memo": _obj(pool[rng.integers(0, len(pool), rows)]),
        "amount": _obj(rng.integers(0, 10**9, rows) / 64.0),
        "kind": _obj(rng.choice(np.array(["debit", "credit", "fee"]), rows)),
    }
    return {"accounts": accounts, "ledger": ledger}


def _flat_key(cols: dict, table: str) -> np.ndarray:
    keys = [cols[c].astype(np.int64) for c in SYNC_PKS[table]]
    return keys[0] if len(keys) == 1 else keys[0] * (1 << 32) + keys[1]


def _perturb(
    rng: np.random.Generator, src: dict, table: str, share: float
) -> tuple[dict, dict[str, int]]:
    """Destination image of ``src``: ``share`` of the rows missing (→ I),
    ``share`` with a changed payload (→ U) and ``share`` extra rows on
    keys absent from the source (→ D)."""
    n = len(src[SYNC_PKS[table][0]])
    k = max(1, int(n * share))
    order = rng.permutation(n)
    missing, updated, cloned = order[:k], order[k : 2 * k], order[2 * k : 3 * k]
    keep = np.ones(n, bool)
    keep[missing] = False
    cols = {c: v.copy() for c, v in src.items()}
    money = "balance" if table == "accounts" else "amount"
    cols[money][updated] += 1.0 / 64  # always a real payload change
    extra = {c: v[cloned].copy() for c, v in cols.items()}
    if table == "accounts":
        extra["id"] = _obj(-1 - np.arange(k, dtype=np.int64))  # source ids are >= 0
    else:
        extra["seq"] = extra["seq"] + 1  # even seq: never a source key
    dst = {c: np.concatenate([cols[c][keep], extra[c]]) for c in cols}
    _assert_unique(_flat_key(dst, table), f"sync.{table} destination")
    return dst, {"Insert": k, "Update": k, "Delete": k}


def _to_arrow(cols: dict, table: str) -> pa.Table:
    types = _SYNC_TYPES[table]
    return pa.table({c: pa.array(cols[c], types[c]) for c in types})


def _sorted_rows(cols: dict, table: str) -> list[tuple]:
    order = np.argsort(_flat_key(cols, table), kind="stable")
    return list(zip(*(cols[c][order].tolist() for c in _SYNC_TYPES[table])))


def make_sync(root: str, seed: int, rows: int, row_groups: int,
              share: float = 0.01) -> dict:
    """Source and destination catalogs (``root/src``, ``root/dst``) of
    ``rows`` rows per table, the destination sqlite template
    (``root/dst_template.db``) and the rows the applied destination must
    hold (the source rows in key order)."""
    rng = np.random.default_rng([seed, 2])
    src_dir, dst_dir = os.path.join(root, "src"), os.path.join(root, "dst")
    os.makedirs(src_dir, exist_ok=True)
    os.makedirs(dst_dir, exist_ok=True)
    template = os.path.join(root, "dst_template.db")
    conn = sqlite3.connect(template)
    out: dict = {"template": template, "rows": {}, "planted": {}, "expected": {},
                 "columns": {}}
    try:
        for name, src in _sync_tables(rng, rows).items():
            dst, out["planted"][name] = _perturb(rng, src, name, share)
            _write(_to_arrow(src, name), os.path.join(src_dir, f"{name}.parquet"),
                   row_groups)
            _write(_to_arrow(dst, name), os.path.join(dst_dir, f"{name}.parquet"),
                   row_groups)
            conn.execute(_SYNC_DDL[name])
            cols = list(_SYNC_TYPES[name])
            ph = ", ".join("?" for _ in cols)
            conn.executemany(
                f"INSERT INTO {name} VALUES ({ph})",
                zip(*(dst[c].tolist() for c in cols)),
            )
            out["expected"][name] = _sorted_rows(src, name)
            out["rows"][name] = len(src[cols[0]]) + len(dst[cols[0]])
            out["columns"][name] = cols
        conn.commit()
    finally:
        conn.close()
    return out


# ---------------------------------------------------------------------------
# curate


def make_curate(root: str, seed: int, docs: int, vecs: int, families: int,
                dim: int = 64) -> dict:
    """``documents`` (doc_id, text) with ``families`` planted near-dup
    triples — base, exact copy, one-word edit — and ``embeddings``
    (vec_id, embedding float[dim]) with ``families`` planted ε-dup
    triples.  Unrelated rows share no word 3-shingle and no cosine near
    the dedup threshold, so the survivor counts are exact."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(root, exist_ok=True)
    vocab = np.array([f"w{i:05d}" for i in range(50_000)], dtype=object)

    n_base = docs - 2 * families
    lens = rng.integers(40, 60, n_base)
    texts = [list(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    members = []
    for f in range(families):
        words = texts[f]
        # one appended non-vocab word: one new 3-shingle, Jaccard >= 0.97,
        # so the default 4x3 LSH bands miss the pair with p < 1e-4
        edited = words + ["x" + words[0]]
        members += [list(words), edited]
    all_texts = [" ".join(t) for t in texts + members]
    doc_ids = rng.permutation(docs * 4)[:docs].astype(np.int64)
    _assert_unique(doc_ids, "curate.documents")
    exact_pairs = [
        (int(doc_ids[f]), int(doc_ids[n_base + 2 * f])) for f in range(families)
    ]
    documents = pa.table({"doc_id": doc_ids, "text": pa.array(all_texts, pa.string())})

    n_vbase = vecs - 2 * families
    base = rng.standard_normal((n_vbase, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    dups = np.repeat(base[:families], 2, axis=0)
    dups += rng.standard_normal(dups.shape) * 1e-6
    allv = np.vstack([base, dups]).astype(np.float32)
    vec_ids = rng.permutation(vecs * 4)[:vecs].astype(np.int64)
    _assert_unique(vec_ids, "curate.embeddings")
    flat = pa.array(allv.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs * dim + 1, dim, dtype=np.int32))
    embeddings = pa.table(
        {"vec_id": vec_ids, "embedding": pa.ListArray.from_arrays(offsets, flat)}
    )
    _write(documents, os.path.join(root, "documents.parquet"), 4)
    _write(embeddings, os.path.join(root, "embeddings.parquet"), 4)
    return {
        "docs": docs,
        "vecs": vecs,
        "doc_survivors": docs - 2 * families,
        "vec_survivors": vecs - 2 * families,
        "exact_doc_pairs": exact_pairs,
    }
