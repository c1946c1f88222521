"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload global_drain --seeds 1-10 [--trace 1]

Runs ``perfbench/run.py`` once per seed, one after another, appends every
result line to ``perfbench/_work/spread-<workload>.jsonl`` together with
the run's wall time and the machine's steal share over the run (CPU time
the hypervisor gave to other guests, from /proc/stat), and prints per
metric the median, the quartiles (``statistics.quantiles(n=4)``) and the
quartile distance as a share of the median. Exits non-zero if any run
failed or was incorrect.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]

    out = HERE / "_work" / f"spread-{args.workload}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {}
    ok = True
    for seed in seeds(args.seeds):
        steal0, total0 = _cpu_ticks()
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.time() - t0
        steal1, total1 = _cpu_ticks()
        steal = (steal1 - steal0) / max(total1 - total0, 1)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            ok = False
            continue
        res = json.loads(lines[-1])
        ok &= res["correct"]
        with open(out, "a") as fh:
            fh.write(json.dumps({"seed": seed, "trace": args.trace, "wall_s": wall,
                                 "steal_share": steal, **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: steal_share={steal:.3f} wall_s={wall:.0f} "
              f"correct={res['correct']} "
              f"attempted={res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        rel = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} n={len(xs):2d} median={med:.4g} q1={q1:.4g} q3={q3:.4g} iqr/median={rel:.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
