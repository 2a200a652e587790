"""Destination connections for the sync workload's ``apply_syncs``.

These run inside the Python workers that ``apply_syncs`` partitions land
on, so this module stays import-light.  ``synchronous=OFF`` makes the
on-disk sqlite destination behave like one on tmpfs (no fsync per
commit), which takes the disk's flush latency out of the measurement.
The timeout is long enough that writers queued on sqlite's single write
lock never fail.
"""

from __future__ import annotations

import sqlite3
import time

LOCK_TIMEOUT_S = 600.0


def connect(path: str) -> sqlite3.Connection:
    conn = sqlite3.connect(path, timeout=LOCK_TIMEOUT_S)
    conn.execute("PRAGMA synchronous=OFF")
    return conn


class _TimedCursor:
    def __init__(self, cur, owner: "TimedConnection"):
        self._cur = cur
        self._owner = owner

    def executemany(self, sql, params):
        params = list(params)
        t0 = time.perf_counter()
        try:
            return self._cur.executemany(sql, params)
        finally:
            self._owner.add(time.perf_counter() - t0, len(params))

    def __getattr__(self, name):
        return getattr(self._cur, name)


class TimedConnection:
    """A connection that adds the time spent inside ``executemany`` and
    ``commit`` (lock waits included), the rows bound and the batch count
    to three Spark accumulators."""

    def __init__(self, conn, busy_s, rows, batches):
        self._conn = conn
        self._acc = (busy_s, rows, batches)

    def add(self, seconds: float, n_rows: int = 0) -> None:
        busy_s, rows, batches = self._acc
        busy_s.add(seconds)
        if n_rows:
            rows.add(n_rows)
            batches.add(1)

    def cursor(self):
        return _TimedCursor(self._conn.cursor(), self)

    def commit(self):
        t0 = time.perf_counter()
        try:
            return self._conn.commit()
        finally:
            self.add(time.perf_counter() - t0)

    def __getattr__(self, name):
        return getattr(self._conn, name)


def connect_timed(path: str, busy_s, rows, batches) -> TimedConnection:
    return TimedConnection(connect(path), busy_s, rows, batches)
