"""Benchmark of the cruncher hot path: ids land → CrunchWorker → PointTable.

    python3 perfbench/run.py --workload global_drain --seed 1 --seconds 5 --trace 0

Each run is one fresh process pinned to one core, on ``local[1]``, with
the driver memory and the JIT pinned. It generates crunch-shaped tables from the seed
(cached on disk by seed and size, outside the timed set-up), wires the
worker exactly as ``python -m cruncher_spark.worker`` does
(``build_worker(spark, load_tables(spark, db), {"SCRIPT": view, ...})``,
then ``start_file_stream(..., max_files_per_trigger=1)``), feeds it
1000-id landing files from one load-generator thread, and measures for
``--seconds`` seconds from the last warm-up commit. A post-run gate
recomputes the expected point table and fails the run on any difference.

The last line of stdout is one JSON object: ``correct``, ``attempted``
(landed batches), ``failed`` (failed batches plus DLQ rows) and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Spans of a traced run are written as JSONL
under ``perfbench/_work/traces/``. See ``perfbench/RESULTS.md`` for the
metric definitions, sizes and recorded runs.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / "_work"

#: the cores this process may use when it starts; the run pins itself to
#: one of them, and the untimed gate uses them all again
USABLE_CPUS = os.sched_getaffinity(0)
BATCH = 1000  # BATCHSIZE (worker.js default)
DUP_SHARE = 0.02  # redelivered lines per file
LATE_BOUND_S = 0.5  # a run whose landing ran later than this is invalid
#: name → generator sizes, view, seed-state size, load-generator shape and
#: warm-up: the commits before the measured window opens. The first batch
#: pays query start and JIT warm-up.
WORKLOADS = {
    "global_drain": {
        "script": "global", "participants": 20_000, "players": 10_000,
        "seed_ids": 0, "loop": "closed", "warmup": 1,
    },
    "player_bigstate": {
        "script": "player", "participants": 120_000, "players": 1_000_000,
        "seed_ids": 4_000, "loop": "closed", "warmup": 1,
    },
    "global_serve": {
        "script": "global", "participants": 20_000, "players": 10_000,
        "seed_ids": 0, "loop": "open", "mean_gap_s": 5.0, "read_every_s": 1.0,
        "warmup": 1,
    },
}

#: end-to-end metrics only the open-loop workload prints
SERVE_UNITS = {
    "ids_per_s": "1/s", "batch_p50_s": "s",
    "lag_p50_s": "s", "lag_max_s": "s", "read_p50_s": "s", "read_max_s": "s",
    "reads_failed": "count", "backlog_end": "count",
}


def declared_metrics(trace: bool) -> dict[str, str]:
    """name → unit of the metrics BENCHMARK.json declares for the mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _pin_environment() -> Path:
    """Pin the core, driver memory and JIT, keep every temp file inside the
    checkout, and log the JVM's collections. Returns the GC log's path.

    The driver and the JVM it starts run on one core, as ``local[1]``. On a
    host whose cores are shared with other guests, a run spread over several
    cores waits on whichever core the host has taken away, at every
    hand-off between threads, and burns CPU while it waits; on one core a
    batch's wall time equals its CPU time, the JVM sizes its GC and JIT
    threads for one core, and a run is shortest. The JIT stops at C1,
    whose compiles finish within the warm-up batch.
    Measured spreads behind each pin are in perfbench/RESULTS.md."""
    os.sched_setaffinity(0, {max(USABLE_CPUS)})
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    gc_log = tmp / f"gc-{os.getpid()}.log"
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    java_opts = (f"-Xms2g -XX:TieredStopAtLevel=1 -Xlog:gc:file={gc_log} -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'
    return gc_log


def _median(xs: list[float]) -> float:
    if not xs:
        raise RuntimeError("no samples for a median")
    return float(statistics.median(xs))


def _batch_latencies(batches: list[dict], warmup: int) -> list[float]:
    """commit[k] - max(commit[k-1], landed[k]) for every measured batch k:
    the batch's own time, without the wait for its file to land or for the
    previous batch to finish."""
    if len(batches) < warmup + 1:
        raise RuntimeError(f"only {len(batches)} batches committed")
    return [
        b["commit"] - max(a["commit"], b["landed"])
        for a, b in zip(batches[warmup - 1:], batches[warmup:])
    ]


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.dir = WORK / "runs" / f"{workload}-s{seed}-p{os.getpid()}"
        self.spark = None
        self.jvm_proc = None
        self.query = None
        self.tracer = None
        self.reads: list[dict] = []
        self.layer: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------

    def setup(self, data: Path) -> float:
        """Session start, ``load_tables`` + ``build_worker`` as
        ``worker.main`` does, and state seeding; returns their time."""
        from cruncher_spark.session import get_spark
        from cruncher_spark.worker import build_worker, load_tables

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_proc = SparkContext._gateway.proc
        start_s = time.perf_counter() - t0

        t = time.perf_counter()
        tables = load_tables(self.spark, str(data))
        load_s = time.perf_counter() - t
        worker = build_worker(self.spark, tables, {
            "SCRIPT": self.cfg["script"],
            "QUEUE": self.cfg["script"],
            "STATE_DIR": str(self.dir / "state"),
        })
        build_s = time.perf_counter() - t
        self.tables, self.worker = tables, worker
        state = self.dir / "state"
        self.notify_dir = state / "notify"
        self.dlq_dir = state / "dlq" / self.cfg["script"]
        self.landing = state / "landing"
        self.checkpoint = state / "checkpoints" / self.cfg["script"]

        import pyarrow as pa
        import pyarrow.parquet as pq

        from perfbench.landing import Lander

        ids = pq.read_table(data / "participant.parquet", columns=["api_id"])
        self.lander = Lander(
            self.landing, self.dir / "landing-tmp", ids["api_id"].to_pylist(),
            batch_size=BATCH, dup_share=DUP_SHARE, seed=self.seed,
            late_bound_s=LATE_BOUND_S,
        )
        # state seeding: one PointTable.merge of a bulk delta (no ledger id,
        # so the ledger keeps exactly one entry per landed file)
        seed_s = 0.0
        self.seed_ids: list[str] = []
        if self.cfg["seed_ids"]:
            self.seed_ids = self.lander.take(self.cfg["seed_ids"])
            seed_file = self.dir / "seed_ids.parquet"
            pq.write_table(pa.table({"value": self.seed_ids}), seed_file)
            t = time.perf_counter()
            ids_df = self.spark.read.parquet(str(seed_file))
            worker.point.merge(worker.plan_fn(tables, ids_df))
            seed_s = time.perf_counter() - t
        self.layer["session.start_s"] = start_s
        self.layer["session.load_tables_s"] = load_s
        self.layer["session.seed_s"] = seed_s
        return start_s + build_s + seed_s

    # -- tracing -------------------------------------------------------------

    def install_tracing(self) -> None:
        from perfbench import observe

        tr = self.tracer = observe.Tracer(self.spark)
        w, point = self.worker, self.worker.point
        orig_plan, orig_merge = w.plan_fn, point.merge

        def plan_fn(tables, ids):
            with tr.span("plans.crunch"):
                with tr.span("plans.build"):
                    delta = orig_plan(tables, ids)
                # persist + count separates delta execution from the
                # merge; merge's own persist() then reuses this cache
                with tr.span("plans.exec") as s:
                    delta = delta.persist()
                    s["rows"] = delta.count()
                return delta

        def merge(delta, batch_id=None):
            before = observe.current_version(point.path)
            prev = observe.version_files(before) if before else {}
            with tr.span("merge.upsert") as s:
                applied = orig_merge(delta, batch_id=batch_id)
            with tr.span("trace.observe"):
                cur = observe.current_version(point.path)
                s.update(observe.rewrite_stats(prev, observe.version_files(cur)))
                s["state_rows"] = observe.state_rows(cur)
                s["versions"] = int(cur.name[2:]) - (int(before.name[2:]) if before else 0)
            return applied

        w.plan_fn = plan_fn
        point.merge = merge
        tr.wrap(point, "applied_batches", "merge.ledger")
        tr.wrap(w, "process_batch", "worker.process_batch", batch_arg=1)

    # -- the measured window -------------------------------------------------

    def committed(self) -> int:
        return len(os.listdir(self.notify_dir)) if self.notify_dir.exists() else 0

    def drive(self) -> None:
        """Start the stream, feed it until the window closes, let it drain
        what landed, then stop it while it is idle."""
        from perfbench import observe

        self.window_start = None
        window_end = [float("inf")]
        self.backlog_max = 0
        self.backlog_end = None
        cfg = self.cfg
        if cfg["loop"] == "closed":
            target = lambda: self.lander.run_closed(  # noqa: E731
                self.committed, deadline=lambda: window_end[0]
            )
        else:
            t0 = time.time()
            target = lambda: self.lander.run_open(  # noqa: E731
                t0, t0 + self.seconds, cfg["mean_gap_s"]
            )
            window_end[0] = t0 + self.seconds
        loadgen = threading.Thread(target=target, name="loadgen", daemon=True)
        self.query = self.worker.start_file_stream(
            str(self.landing), str(self.checkpoint), max_files_per_trigger=1
        )
        loadgen.start()
        reader = None
        if cfg["loop"] == "open":
            reader = threading.Thread(target=self._read_loop, args=(window_end,),
                                      name="reader", daemon=True)
            reader.start()
        # an open loop may leave a backlog to drain after its schedule ends;
        # a closed run of the contract's length stays well inside 180 s
        hard_stop = time.time() + 3 * self.seconds + 80
        try:
            while True:
                if self.query.exception() is not None:
                    raise RuntimeError(f"stream failed: {self.query.exception()}")
                if self.lander.error is not None:
                    raise RuntimeError(f"load generator failed: {self.lander.error!r}")
                n = self.committed()
                self.backlog_max = max(self.backlog_max, len(self.lander.files) - n)
                if self.window_start is None and n >= cfg["warmup"]:
                    self.window_start = sorted(observe.commit_times(self.notify_dir).values())[
                        cfg["warmup"] - 1
                    ]
                    if cfg["loop"] == "closed":
                        window_end[0] = self.window_start + self.seconds
                if not loadgen.is_alive():
                    if self.backlog_end is None:
                        self.backlog_end = len(self.lander.files) - n
                    if n >= len(self.lander.files):
                        break
                if time.time() > hard_stop:
                    raise RuntimeError("run did not drain in time")
                time.sleep(0.02)
        finally:
            self.lander.stop.set()
            loadgen.join(timeout=30)
            if reader is not None:
                reader.join(timeout=60)
            self.query.stop()

    def _read_loop(self, window_end: list[float]) -> None:
        """One web-tier read per second: rows of one seeded hero, timed
        from when the read was due."""
        import random

        from pyspark.sql import functions as F

        rng = random.Random(self.seed)
        heroes = [2, 3, 4, 5]
        # reads start at the first commit: before it there is nothing to read
        while not self.worker.point.exists() and not self.lander.stop.is_set():
            time.sleep(0.05)
        due = time.time() + self.cfg["read_every_s"]
        while due < window_end[0] and not self.lander.stop.is_set():
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            rec = {"due": due, "ok": False}
            span = self.tracer.span("merge.read") if self.tracer else contextlib.nullcontext()
            try:
                with span:
                    rows = (
                        self.worker.point.read()
                        .where(F.col("hero_id") == rng.choice(heroes))
                        .collect()
                    )
                rec["rows"] = len(rows)
                rec["ok"] = True
            except Exception as e:  # noqa: BLE001 - a failed read is counted
                rec["error"] = repr(e)[:300]
            rec["done"] = time.time()
            self.reads.append(rec)
            due += self.cfg["read_every_s"]

    # -- metrics ----------------------------------------------------------------

    def batches(self) -> list[dict]:
        """Per landed file: landed and commit time, distinct ids."""
        from perfbench import observe

        commits = observe.commit_times(self.notify_dir)
        by_epoch = {int(lid.rsplit("-", 1)[1]): t for lid, t in commits.items()}
        out = []
        for k, f in enumerate(self.lander.files):
            out.append({"landed": f["landed"], "due": f["due"],
                        "commit": by_epoch.get(k), "ids": len(f["ids"])})
        return out

    def end_to_end(self, setup_s: float, batches: list[dict], work: dict) -> dict[str, float]:
        """``work``: the Spark work of the first batch after the warm-up
        (jobs submitted between its start and its commit). Later batches
        merge into a larger state, so counting only that one keeps the
        counts independent of how many batches fit into the window."""
        out = {
            "setup_s": setup_s,
            "jobs_per_batch": work["jobs"],
            "scan_rows_per_batch": work["input_rows"],
            "shuffle_bytes_per_batch": work["shuffle_write_bytes"],
            "write_bytes_per_batch": work["output_bytes"],
        }
        if self.cfg["loop"] == "open":
            warmup = self.cfg["warmup"]
            span = batches[-1]["commit"] - batches[warmup - 1]["commit"]
            lag = [b["commit"] - b["landed"] for b in batches]
            ok = [r["done"] - r["due"] for r in self.reads if r["ok"]]
            out.update({
                "ids_per_s": sum(b["ids"] for b in batches[warmup:]) / span,
                "batch_p50_s": _median(_batch_latencies(batches, warmup)),
                "lag_p50_s": _median(lag),
                "lag_max_s": max(lag),
                "read_p50_s": _median(ok),
                "read_max_s": max(ok),
                "reads_failed": float(sum(not r["ok"] for r in self.reads)),
                "backlog_end": float(self.backlog_end),
            })
        return out

    def per_layer(self, batches: list[dict], groups: dict) -> dict[str, float]:
        from perfbench import observe

        tr = self.tracer
        selfs = tr.self_times()
        measured = set(range(self.cfg["warmup"], len(batches)))
        by = {}
        for s in tr.spans:
            by.setdefault((s["name"], s["batch"]), []).append(s)

        def spans(name):
            return [s for (n, b), ss in by.items() if n == name and b in measured for s in ss]

        def per_batch(name, fn):
            vals = {}
            for s in spans(name):
                vals[s["batch"]] = vals.get(s["batch"], 0.0) + fn(s)
            return _median(list(vals.values())) if vals else 0.0

        def dur(s):
            return s["end"] - s["start"]

        def spark(key):
            return lambda s: groups.get(s["group"], {}).get(key, 0.0)

        m = dict(self.layer)
        m["sources.input_rows"] = per_batch("plans.exec", spark("input_rows"))
        m["sources.input_bytes"] = per_batch("plans.exec", spark("input_bytes"))
        m["plans.s"] = per_batch("plans.crunch", dur)
        m["plans.build_s"] = per_batch("plans.build", dur)
        m["plans.exec_s"] = per_batch("plans.exec", dur)
        m["plans.delta_rows"] = per_batch("plans.exec", lambda s: s["rows"])
        for key, field in (("jobs", "jobs"), ("cpu_s", "cpu_s"),
                           ("shuffle_bytes", "shuffle_write_bytes")):
            m[f"plans.{key}"] = (
                per_batch("plans.build", spark(field)) + per_batch("plans.exec", spark(field))
            )
            m[f"merge.{key}"] = (
                per_batch("merge.upsert", spark(field)) + per_batch("merge.ledger", spark(field))
            )
        m["merge.s"] = per_batch("merge.upsert", dur)
        m["merge.ledger_s"] = per_batch("merge.ledger", dur)
        for key in ("buckets_rewritten", "bytes_written", "state_rows", "state_bytes"):
            m[f"merge.{key}"] = per_batch("merge.upsert", lambda s, k=key: s[k])
        m["merge.versions_per_batch"] = per_batch("merge.upsert", lambda s: s["versions"])
        row_bytes = m["merge.state_bytes"] / max(m["merge.state_rows"], 1)
        m["merge.write_amp"] = m["merge.bytes_written"] / max(m["plans.delta_rows"] * row_bytes, 1)

        reads = [s for s in tr.spans if s["name"] == "merge.read"]
        m["read.s"] = _median([dur(s) for s in reads]) if reads else 0.0
        read_groups = [groups.get(s["group"], {}) for s in reads]
        m["read.jobs"] = _median([g.get("jobs", 0) for g in read_groups]) if reads else 0.0
        m["read.input_bytes"] = (
            _median([g.get("input_bytes", 0) for g in read_groups]) if reads else 0.0
        )
        cur = observe.current_version(self.worker.point.path)
        m["read.files"] = float(len(observe.version_files(cur))) if reads else 0.0

        m["worker.self_s"] = _median([
            selfs[s["id"]] for s in spans("worker.process_batch")
        ])
        m["worker.jobs"] = per_batch("worker.process_batch", spark("jobs"))
        pb = {s["batch"]: s for s in tr.spans if s["name"] == "worker.process_batch"}
        m["worker.trigger_gap_s"] = _median([
            pb[k]["start"] - batches[k - 1]["commit"] for k in measured if k in pb
        ])
        m["worker.queue_wait_s"] = _median([
            pb[k]["start"] - batches[k]["landed"] for k in measured if k in pb
        ])
        m["worker.dlq_rows"] = float(self.dlq_rows)
        m["loadgen.late_max_s"] = self.lander.late_max_s()
        m["loadgen.backlog_max"] = float(self.backlog_max)
        m["trace.batch_p50_s"] = _median(_batch_latencies(batches, self.cfg["warmup"]))
        return m

    # -- teardown ------------------------------------------------------------

    def close(self) -> None:
        """Stop the query, the session and the JVM, and wait for the JVM."""
        try:
            if self.query is not None and self.query.isActive:
                self.query.stop()
        finally:
            if self.spark is not None:
                self.spark.stop()
            if self.jvm_proc is not None:
                from pyspark import SparkContext

                SparkContext._gateway.shutdown()
                if self.jvm_proc.stdin:
                    self.jvm_proc.stdin.close()
                try:
                    self.jvm_proc.wait(timeout=60)
                except Exception:
                    self.jvm_proc.kill()
                    self.jvm_proc.wait(timeout=30)
            shutil.rmtree(self.dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import cruncher_spark.worker  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: program not found next to the benchmark: {e}", file=sys.stderr)
        return 2

    gc_log = _pin_environment()
    from perfbench import gate, gen, observe

    cfg = WORKLOADS[args.workload]
    data = gen.ensure_tables(WORK / "data", cfg["participants"], cfg["players"], args.seed)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        setup_s = run.setup(data)
        if run.trace:
            run.install_tracing()
        _phase("set-up")
        run.drive()
        _phase("drive")
        batches = run.batches()
        run.dlq_rows = (
            run.spark.read.parquet(str(run.dlq_dir)).count()
            if any(run.dlq_dir.rglob("*.parquet")) else 0
        )
        gc = observe.gc_log_stats(gc_log)
        run.layer.update({
            "mem.heap_after_gc_mb": gc["heap_after_gc_mb"],
            "mem.gc_pause_s": gc["gc_pause_s"],
            "mem.non_heap_mb": observe.jvm_non_heap_mb(run.spark),
            "mem.driver_rss_mb": observe.proc_peak_rss_mb(),
        })
        lat = _batch_latencies(batches, cfg["warmup"])
        span = batches[-1]["commit"] - batches[cfg["warmup"] - 1]["commit"]
        ids = sum(b["ids"] for b in batches[cfg["warmup"]:])
        print(f"perfbench: {len(batches)} batches, measured latencies "
              f"{[round(x, 2) for x in lat]} s, {ids / span:.2f} ids/s", file=sys.stderr)
        if run.trace:
            groups = observe.JobGroups(run.spark).totals()
            metrics = run.per_layer(batches, groups)
            run.tracer.write_jsonl(
                WORK / "traces" / f"{args.workload}-s{args.seed}.jsonl", groups
            )
        else:
            prev, first = batches[cfg["warmup"] - 1], batches[cfg["warmup"]]
            work = observe.JobGroups(run.spark).window(
                max(prev["commit"], first["landed"]), first["commit"]
            )
            metrics = run.end_to_end(setup_s, batches, work)
        units = declared_metrics(run.trace)
        if cfg["loop"] == "closed" and set(metrics) != set(units):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
        units |= SERVE_UNITS
        from cruncher_spark.plans.crunch import activable_item_ids

        # the gate is untimed: let its DuckDB threads use every usable core
        os.sched_setaffinity(0, USABLE_CPUS)

        errors = gate.check(
            run.worker, cfg["script"], data, activable_item_ids(run.tables),
            [f["ids"] for f in run.lander.files], run.seed_ids,
            run.notify_dir, run.dlq_rows,
        )
        _phase("gate")
        if not run.lander.valid():
            errors.append(f"load generator late by {run.lander.late_max_s():.3f} s")
        failed_reads = sum(not r["ok"] for r in run.reads)
        for e in errors:
            print(f"perfbench: correctness gate: {e}", file=sys.stderr)
        result = {
            "correct": not errors,
            "attempted": len(run.lander.files) + len(run.reads),
            "failed": run.worker.batches_failed + run.dlq_rows + failed_reads,
            "metrics": {
                k: {"value": float(v), "unit": units[k]}
                for k, v in metrics.items()
            },
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
        gc_log.unlink(missing_ok=True)
    print(json.dumps(result))
    return 0


_T0 = time.time()


def _phase(name: str) -> None:
    print(f"perfbench: {name} done at {time.time() - _T0:.1f} s", file=sys.stderr, flush=True)


if __name__ == "__main__":
    sys.exit(main())
