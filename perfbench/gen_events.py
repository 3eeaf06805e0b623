"""Seeded event files for ``events_stream`` and their exact de-duplicated
per-type totals.

File ``k`` covers event time ``[T0 + k*SLICE, T0 + (k+1)*SLICE)``. Some rows
arrive out of order (up to ``MAX_LATE`` behind their file's slice) and some
are exact re-sends of a row from the same or the previous file. Both stay
well inside the stream's 2-hour watermark, so no row is dropped as late and
every re-send is still in the de-duplication state: the expected totals are
exact. Values are multiples of 0.25, so every sum is exact in binary.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

T0 = dt.datetime(2024, 1, 1)
SLICE = dt.timedelta(minutes=10)
MAX_LATE = dt.timedelta(minutes=50)
ROWS_PER_FILE = 1000
RESEND_SHARE = 0.05
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")

SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


class EventFiles:
    """Writes the event files and keeps the totals they must produce."""

    def __init__(self, seed: int, staging: Path):
        self.rng = random.Random(seed)
        self.staging = staging
        self.staging.mkdir(parents=True)
        self.next_id = 0
        self.prev_rows: list[tuple] = []
        self.files: list[Path] = []
        # per file: {event_type: (count, sum)} of the rows seen first there
        self.expected: list[dict[str, tuple[int, float]]] = []
        self._seen: set[int] = set()

    def make(self) -> Path:
        """Write the next file into the staging dir; returns its path."""
        k = len(self.files)
        rng = self.rng
        start = T0 + k * SLICE
        fresh = []
        n_resend = int(ROWS_PER_FILE * RESEND_SHARE)
        for _ in range(ROWS_PER_FILE - n_resend):
            ts = start + dt.timedelta(microseconds=rng.randrange(int(SLICE.total_seconds() * 1e6)))
            if rng.random() < 0.1:
                ts -= dt.timedelta(microseconds=rng.randrange(int(MAX_LATE.total_seconds() * 1e6)))
            etype = EVENT_TYPES[rng.randrange(len(EVENT_TYPES))]
            fresh.append((self.next_id, ts, rng.randrange(500), etype,
                          rng.randrange(2000) / 4, f'{{"k": {rng.randrange(100)}}}'))
            self.next_id += 1
        pool = self.prev_rows + fresh
        rows = fresh + [pool[rng.randrange(len(pool))] for _ in range(n_resend)]
        rng.shuffle(rows)
        totals: dict[str, tuple[int, float]] = {}
        for r in rows:
            if r[0] in self._seen:
                continue
            self._seen.add(r[0])
            c, s = totals.get(r[3], (0, 0.0))
            totals[r[3]] = (c + 1, s + r[4])
        self.expected.append(totals)
        self.prev_rows = fresh
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA
        )
        path = self.staging / f"part-{k:05d}.parquet"
        pq.write_table(table, path)
        self.files.append(path)
        return path

    def total(self, upto: int) -> dict[str, tuple[int, float]]:
        """Expected per-type (count, sum) over files ``[0, upto)``."""
        out: dict[str, tuple[int, float]] = {}
        for per_file in self.expected[:upto]:
            for t, (c, s) in per_file.items():
                c0, s0 = out.get(t, (0, 0.0))
                out[t] = (c0 + c, s0 + s)
        return out
