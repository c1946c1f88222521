"""Outside observers: everything the benchmark learns about a run without
changing the program under test.

- :func:`commit_times` reads the ``notify-<ledger id>.parquet`` files the
  worker writes after each applied merge; their mtimes are commit times.
- :func:`version_files` and :func:`rewrite_stats` compare the data files of
  consecutive point-table versions by inode. Untouched buckets are hard
  links, so a bucket whose inode changed was rewritten.
- :func:`gc_log_stats` reads the JVM's ``-Xlog:gc`` file: the largest heap
  occupancy a collection left behind and the total pause time.
- :class:`JobGroups` reads Spark work back from the driver's status store
  (jobs, stages, tasks, run and CPU time, GC, shuffle, spill, input and
  output), which Spark keeps with the UI disabled, per job group or per
  wall-clock window.
- :class:`Tracer` records spans (name, start, end, parent, batch) around
  calls into the program's public functions, tags each span's Spark jobs
  with its own job group, and writes the spans as JSONL at exit.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq


def commit_times(notify_dir: Path) -> dict[str, float]:
    """ledger id → commit time (mtime of its notify file)."""
    if not notify_dir.exists():
        return {}
    out = {}
    for f in notify_dir.glob("notify-*.parquet"):
        out[f.name[len("notify-"):-len(".parquet")]] = f.stat().st_mtime
    return out


def current_version(point_path: Path) -> Path | None:
    ptr = point_path / "CURRENT"
    if not ptr.exists():
        return None
    return point_path / ptr.read_text().strip()


def version_files(vdir: Path) -> dict[str, tuple[int, int]]:
    """data file (relative to the version's data dir) → (inode, bytes)."""
    data = vdir / "data"
    out = {}
    for f in data.rglob("*.parquet"):
        st = f.stat()
        out[str(f.relative_to(data))] = (st.st_ino, st.st_size)
    return out


def rewrite_stats(
    prev: dict[str, tuple[int, int]], cur: dict[str, tuple[int, int]]
) -> dict[str, int]:
    """Buckets and bytes a merge wrote: files of ``cur`` whose inode is not
    among ``prev``'s (a hard-linked file keeps its inode)."""
    old = {ino for ino, _ in prev.values()}
    new = {rel: size for rel, (ino, size) in cur.items() if ino not in old}
    return {
        "buckets_rewritten": len({rel.split("/", 1)[0] for rel in new}),
        "bytes_written": sum(new.values()),
        "state_bytes": sum(size for _, size in cur.values()),
    }


def state_rows(vdir: Path) -> int:
    """Row count of a version from its parquet footers (no data read)."""
    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in (vdir / "data").rglob("*.parquet")
    )


def proc_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process, in MiB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


_GC_PAUSE = re.compile(r"GC\(\d+\) Pause .* \d+[KMG]->(\d+)([KMG])\(\d+[KMG]\) ([\d.]+)ms")
_MIB = {"K": 1 / 1024, "M": 1, "G": 1024}


def gc_log_stats(path: Path) -> dict[str, float]:
    """From a ``-Xlog:gc`` file: the largest heap occupancy a collection
    left behind (the live heap at its worst, garbage not yet reclaimed
    included) and the total pause time."""
    peak, pause_s = 0.0, 0.0
    for line in path.read_text().splitlines():
        m = _GC_PAUSE.search(line)
        if m:
            peak = max(peak, int(m[1]) * _MIB[m[2]])
            pause_s += float(m[3]) / 1000
    return {"heap_after_gc_mb": peak, "gc_pause_s": pause_s}


def jvm_non_heap_mb(spark) -> float:
    """Non-heap memory the JVM uses now (metaspace, code cache), in MiB."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getNonHeapMemoryUsage().getUsed() / 2**20


#: per-stage fields summed into a job group's totals, with unit scaling
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "output_bytes": ("outputBytes", 1),
}


class JobGroups:
    """Spark work read from ``SparkContext.statusStore()``: per job group
    (the traced run's spans) or per time window (an untraced run's
    batches)."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def _jobs(self) -> list[tuple[str | None, float, list[int]]]:
        """(job group or None, submission time in s, stage ids) per job."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            submitted = job.submissionTime()
            ids = job.stageIds()
            out.append((
                group.get() if group.isDefined() else None,
                submitted.get().getTime() / 1000 if submitted.isDefined() else float("nan"),
                [ids.apply(k) for k in range(ids.size())],
            ))
        return out

    def _sum(self, njobs: int, stage_ids: set[int]) -> dict[str, float]:
        no_status = self._jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        tot = {k: 0.0 for k in _STAGE_FIELDS}
        tot["jobs"] = njobs
        tot["stages"] = 0
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse an earlier stage's output
                tot["stages"] += 1
                for key, (field, scale) in _STAGE_FIELDS.items():
                    tot[key] += getattr(sd, field)() * scale
        return tot

    def totals(self) -> dict[str, dict[str, float]]:
        """job group → summed jobs, stages and stage metrics."""
        stages_of: dict[str, set[int]] = {}
        njobs: dict[str, int] = {}
        for g, _, ids in self._jobs():
            if g is None:
                continue
            njobs[g] = njobs.get(g, 0) + 1
            stages_of.setdefault(g, set()).update(ids)
        return {g: self._sum(njobs[g], ids) for g, ids in stages_of.items()}

    def window(self, start: float, end: float) -> dict[str, float]:
        """Summed jobs, stages and stage metrics of the jobs submitted
        between ``start`` and ``end`` (wall-clock seconds)."""
        inside = [ids for _, t, ids in self._jobs() if start <= t <= end]
        return self._sum(len(inside), {s for ids in inside for s in ids})


class Tracer:
    """In-memory spans around the program's public calls.

    Each span sets its own Spark job group for the calls it covers and
    restores the enclosing span's group when it ends, so the status store
    attributes every job to exactly one span. Spans are per thread; a span
    opened with no enclosing span on its thread has no parent."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, batch=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": parent["id"] if parent else None,
                "batch": batch if batch is not None else (parent or {}).get("batch"),
                "group": f"span-{sid}",
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, obj, attr: str, name: str, batch_arg: int | None = None) -> None:
        """Replace ``obj.attr`` with a spanned call of the original."""
        fn: Callable = getattr(obj, attr)

        def traced(*args, **kwargs):
            batch = args[batch_arg] if batch_arg is not None else None
            with self.span(name, batch):
                return fn(*args, **kwargs)

        setattr(obj, attr, traced)

    def self_times(self) -> dict[int, float]:
        """span id → its duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"] or s["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write_jsonl(self, path: Path, groups: dict[str, dict[str, float]]) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        selfs = self.self_times()
        tmp = path.with_name(path.name + f".tmp{os.getpid()}")
        with open(tmp, "w") as fh:
            for s in self.spans:
                rec = dict(s, self_s=selfs.get(s["id"]), spark=groups.get(s["group"], {}))
                fh.write(json.dumps(rec) + "\n")
        os.replace(tmp, path)
