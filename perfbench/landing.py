"""Single-thread landing-file generator.

Writes one file of ids per micro-batch into the worker's landing directory:

- ids come in a seeded order, with a small fixed share of each file's
  lines repeated inside the same file (redeliveries, which the worker's
  in-batch dedup drops);
- each file is written under a temp name outside the landing directory and
  renamed into it, so the file source never lists a partial file;
- mtimes strictly increase in whole milliseconds (the file source's
  resolution), so with one file per trigger epoch k reads file k;
- every file's due time and actual landing time are recorded, and a run
  whose worst lateness exceeds ``late_bound_s`` is invalid.

Two schedules: :meth:`Lander.run_closed` keeps one file waiting ahead of
the worker until a deadline (a closed loop: the next file lands when a
commit is seen), and :meth:`Lander.run_open` lands files at
seeded exponential gaps regardless of the worker (an open loop).
"""

from __future__ import annotations

import os
import threading
import time
from collections.abc import Callable
from pathlib import Path

import numpy as np

POLL_S = 0.005  # how often the closed loop looks for a commit


class Lander:
    def __init__(
        self,
        landing_dir: Path,
        tmp_dir: Path,
        ids: list[str],
        *,
        batch_size: int,
        dup_share: float,
        seed: int,
        late_bound_s: float,
    ):
        self.landing_dir = landing_dir
        self.tmp_dir = tmp_dir
        self.batch_size = batch_size
        self.late_bound_s = late_bound_s
        self._rng = np.random.default_rng(seed)
        self._ids = [ids[i] for i in self._rng.permutation(len(ids))]
        self._dups = int(round(batch_size * dup_share))
        self._next = 0
        self._last_mtime_ms = 0
        #: per landed file: name, distinct ids, due and actual landing time
        self.files: list[dict] = []
        self.stop = threading.Event()
        self.error: BaseException | None = None
        landing_dir.mkdir(parents=True, exist_ok=True)
        tmp_dir.mkdir(parents=True, exist_ok=True)

    def take(self, n: int) -> list[str]:
        """The next ``n`` ids of the seeded order (not landed as files)."""
        out = self._ids[self._next:self._next + n]
        if len(out) < n:
            raise RuntimeError(f"id pool exhausted after {self._next} ids")
        self._next += n
        return out

    def land(self, due: float) -> dict:
        distinct = self.take(self.batch_size - self._dups)
        pick = self._rng.choice(len(distinct), size=self._dups, replace=False)
        lines = distinct + [distinct[i] for i in pick]
        lines = [lines[i] for i in self._rng.permutation(len(lines))]
        name = f"batch-{len(self.files):06d}.txt"
        tmp = self.tmp_dir / name
        tmp.write_text("\n".join(lines) + "\n")
        mtime_ms = max(int(time.time() * 1000), self._last_mtime_ms + 1)
        os.utime(tmp, ns=(mtime_ms * 1_000_000, mtime_ms * 1_000_000))
        self._last_mtime_ms = mtime_ms
        os.replace(tmp, self.landing_dir / name)
        rec = {"name": name, "ids": distinct, "due": due, "landed": time.time()}
        self.files.append(rec)
        return rec

    def late_max_s(self) -> float:
        return max((f["landed"] - f["due"] for f in self.files), default=0.0)

    def valid(self) -> bool:
        return self.late_max_s() <= self.late_bound_s

    def run_closed(self, committed: Callable[[], int], deadline: Callable[[], float]) -> None:
        """Keep one landed-but-uncommitted file until ``deadline()``. A file
        is due at the poll that first sees no file waiting."""
        try:
            while not self.stop.is_set() and time.time() < deadline():
                if len(self.files) == committed():
                    self.land(time.time())
                time.sleep(POLL_S)
        except BaseException as e:  # noqa: BLE001 - surfaced by the caller
            self.error = e
            raise

    def run_open(self, start: float, end: float, mean_gap_s: float) -> None:
        """Land files at seeded exponential gaps from ``start`` until
        ``end``; each file is due at its scheduled time."""
        try:
            due = start + self._rng.exponential(mean_gap_s)
            while not self.stop.is_set() and due < end:
                wait = due - time.time()
                if wait > 0 and self.stop.wait(wait):
                    break
                self.land(due)
                due += self._rng.exponential(mean_gap_s)
        except BaseException as e:  # noqa: BLE001 - surfaced by the caller
            self.error = e
            raise
