"""Seeded "source database" for the benchmark.

The generator owns one source table as numpy columns and mutates it one
tick at a time. After each tick it writes a parquet snapshot, which is the
only thing the engine ever sees. It runs outside every timed window, and
the same seed gives byte-identical snapshots (fixed codec, row-group size
and column order; no pandas metadata, no wall-clock values).

Every row carries ``rv``, a rowversion-like counter: each inserted or
changed row takes the next value, so ``rv`` is a valid delta column.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# order-independent digest of the live (pk, rv) pairs: a sum of per-row
# residues, small enough that neither numpy nor Spark longs can overflow
KEY_MUL = 1_000_003
MOD = 2_147_483_647

_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_SPAN_US = 90 * 86_400_000_000
_EVENT_TYPES = ["view", "click", "cart", "buy", "share", "search"]
ROW_GROUP = 32_768


def digest(pk: np.ndarray, rv: np.ndarray) -> tuple[int, int]:
    """(row count, order-independent hash) of the (pk, rv) pairs."""
    return len(pk), int(((pk * KEY_MUL + rv) % MOD).sum())


class SourceTable:
    """The seeded ``events`` source table: ``tick`` mutates it, ``write_*``
    snapshot it. ``event_id`` is unique; the payload is a bigint, a
    string, a double and a timestamp."""

    pk = "event_id"

    def __init__(self, rows: int, seed: int):
        self.rng = np.random.default_rng(seed)
        self.cols = {self.pk: np.arange(1, rows + 1, dtype=np.int64)}
        self.cols.update(self._new_rows(rows))
        self.cols["rv"] = np.arange(1, rows + 1, dtype=np.int64)
        self.next_pk = rows + 1
        self.next_rv = rows + 1
        self.batch_from_rv = 1  # rv of the first row the last tick touched

    def _new_rows(self, n: int) -> dict[str, np.ndarray]:
        return {
            "ts": _BASE_US + self.rng.integers(0, _SPAN_US, n),
            "user_id": self.rng.integers(0, 10_000, n),
            "event_type": self.rng.integers(0, len(_EVENT_TYPES), n),
            "value": np.round(self.rng.random(n) * 1000.0, 2),
        }

    def _update(self, idx: np.ndarray) -> None:
        self.cols["value"][idx] = np.round(self.rng.random(len(idx)) * 1000.0, 2)
        self.cols["event_type"][idx] = self.rng.integers(0, len(_EVENT_TYPES), len(idx))

    def __len__(self) -> int:
        return len(self.cols["rv"])

    def tick(self, updates: int, inserts: int, deletes: int, recent: int = 0) -> None:
        """Change ``updates`` rows, insert ``inserts`` and delete ``deletes``.

        With ``recent`` > 0 the changed and deleted rows are drawn from the
        ``recent`` newest keys only (late corrections of fresh rows)."""
        n = len(self)
        lo = max(0, n - recent) if recent else 0
        picked = lo + self.rng.choice(n - lo, updates + deletes, replace=False)
        upd, dele = picked[:updates], picked[updates:]
        self.batch_from_rv = self.next_rv
        self._update(upd)
        self.cols["rv"][upd] = self.next_rv + np.arange(updates, dtype=np.int64)
        self.next_rv += updates

        keep = np.ones(n, dtype=bool)
        keep[dele] = False
        new = {self.pk: self.next_pk + np.arange(inserts, dtype=np.int64)}
        new.update(self._new_rows(inserts))
        new["rv"] = self.next_rv + np.arange(inserts, dtype=np.int64)
        self.next_pk += inserts
        self.next_rv += inserts
        self.cols = {k: np.concatenate([v[keep], new[k]]) for k, v in self.cols.items()}

    def digest(self) -> tuple[int, int]:
        """(count, hash) the destination's current rows must reproduce."""
        return digest(self.cols[self.pk], self.cols["rv"])

    def _arrow(self, mask: np.ndarray | None = None) -> pa.Table:
        cols = {k: v[mask] if mask is not None else v for k, v in self.cols.items()}
        cols["ts"] = pa.array(cols["ts"], pa.int64()).cast(pa.timestamp("us"))
        cols["event_type"] = pa.array(_EVENT_TYPES, pa.string()).take(
            pa.array(cols["event_type"]))
        return pa.table(cols)

    def write_snapshot(self, path: str) -> int:
        """Write every live row; returns the file's size in bytes."""
        return _write(self._arrow(), path)

    def write_batch(self, path: str) -> int:
        """Write only the rows the last tick inserted or changed."""
        return _write(self._arrow(self.cols["rv"] >= self.batch_from_rv), path)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="zstd", row_group_size=ROW_GROUP)
    return os.path.getsize(path)
