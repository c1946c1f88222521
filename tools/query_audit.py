"""One measuring run per registered query: plan shape, Spark work, wall time.

Each query runs once per scale factor inside its own job group, and one
record is read back from Spark's status store (`cruncher_spark/observe.py`):

- **build_s / plan_s / exec_s** — ``fn(spark, sf_dir)`` (including any eager
  ``localCheckpoint``/``collect`` the query runs while it builds), then
  ``queryExecution().executedPlan()``, then the execution;
- **jobs, stages, tasks, cpu_s** — every job the query ran, build and
  execution alike; sequential jobs are un-parallelizable fixed cost;
- **shuffle_bytes, spill_bytes, peak_mem_bytes** — shuffle bytes written,
  disk spill, and the largest peak execution memory of one task;
- **rows** — the result's row count;
- **shape counts** of the AQE-final executed plan (see ``PLANS_HEADER``).

The sink is ``queryExecution().toRdd().count()``: it runs the DataFrame's
own plan over every column without moving rows to the driver, and leaves
the AQE plan final, so the shape counts and the byte counts describe the
same execution.

Prints one JSON record per (query, scale factor). A run over the whole
registry also writes PLANS.md (shapes at the first scale factor) and
METRICS.md (work at both, with the shuffle-byte ratio — a jitter-free
scaling signal, unlike wall clock).

Usage:
    python tools/query_audit.py                        # sf0.01 + sf0.1
    python tools/query_audit.py SF_DIR [SF_DIR2] [query ...]
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from cruncher_spark import observe
from cruncher_spark.plans import query_map
from cruncher_spark.plans.registry import ORACLE_SF_DIR
from cruncher_spark.session import get_spark

INTERESTING = re.compile(
    r"PushedFilters: \[[^\]]*[a-zA-Z]|ReadSchema|BroadcastHashJoin|"
    r"SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct|"
    r"Exchange |Expand|HashAggregate|ObjectHashAggregate|SortAggregate|"
    r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas|WindowExec|Window "
)


def shape_counts(plan: str) -> dict[str, int]:
    """Operator counts of an executed-plan string.

    AQE plans print "== Final Plan ==" then "== Initial Plan =="; only the
    final section counts, or every exchange AQE kept is counted twice. A
    persisted subtree is printed again at every InMemoryTableScan, so
    unique node lines are counted, not raw hits: distinct operators differ
    in expression ids (#nnn), and the per-printing ``plan_id`` is
    stripped."""
    uniq = {
        re.sub(
            r", \[plan_id=\d+\]",
            "",
            re.sub(r"^\*\(\d+\) ", "", re.sub(r"^[\s:+|-]*", "", ln)),
        )
        for ln in plan.splitlines()
    }

    def n(pat: str) -> int:
        rx = re.compile(pat)
        return sum(1 for ln in uniq if rx.search(ln))

    return {
        "shuffles": n(r"^Exchange (?:hash|range|Single)"),
        "bhj": n(r"^BroadcastHashJoin"),
        "smj": n(r"^SortMergeJoin"),
        "bnlj": n(r"^BroadcastNestedLoopJoin"),
        # string-form executed plans mark codegen stages with a "*(n)" prefix
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": n(r"^(MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas)"),
    }


def audit_one(spark, name: str, fn, sf_dir: str) -> dict:
    """Run query ``fn`` once at ``sf_dir`` and return its record."""
    group = f"audit:{name}@{sf_dir}"
    with observe.job_group(spark, group):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.perf_counter()
        rows = qe.toRdd().count()
        t3 = time.perf_counter()
    plan = qe.executedPlan().toString().split("+- == Initial Plan ==")[0]
    work = observe.group_totals(spark, group)
    spark.catalog.clearCache()
    return {
        "name": name,
        "sf": Path(sf_dir).name,
        "build_s": round(t1 - t0, 3),
        "plan_s": round(t2 - t1, 3),
        "exec_s": round(t3 - t2, 3),
        **{k: int(work[k]) for k in ("jobs", "stages", "tasks")},
        "cpu_s": round(work["cpu_s"], 3),
        **{k: int(work[k]) for k in ("shuffle_bytes", "spill_bytes", "peak_mem_bytes")},
        "rows": rows,
        **shape_counts(plan),
        "plan": plan,
    }


PLANS_HEADER = """# PLANS — physical-plan audit (scale-readiness evidence)

Generated by `tools/query_audit.py` from the AQE-final executed plans at
{sf} ({cores} cores). Columns:

- **shuffles** — `Exchange` nodes; each is a full network pass over its
  input. The design target is the minimum the semantics allow (an
  aggregation needs one; a co-partitioned join needs zero extra).
- **BHJ / SMJ / BNLJ** — broadcast-hash / sort-merge / broadcast-nested-loop
  join counts. Dimension joins must be BHJ (no shuffle of the fact side);
  SMJ is correct only fact-to-fact; BNLJ only against broadcast-sized
  inputs (series/tier intervals, build regex table).
- **codegen** — distinct WholeStageCodegen spans; expression work outside a
  span is interpreted row-at-a-time.
- **python** — Arrow-boundary operators (`MapInPandas` etc.). Exactly the
  queries whose semantics need vectorized numpy (embedding matmul,
  multimodal codecs) have one; reference-parity queries have zero.
- **jobs** — every Spark job the query ran. The shape columns read the
  final plan only; a query that does work while it builds (an eager
  `localCheckpoint`, a driver-side `collect` per training round) shows
  that work here and in METRICS.md, not in its shape columns.

| query | shuffles | BHJ | SMJ | BNLJ | codegen spans | python ops | jobs |
|---|---|---|---|---|---|---|---|
"""

METRICS_HEADER = """# METRICS — measured Spark work per query (scale evidence)

Generated by `tools/query_audit.py` ({cores} cores). Each query ran once
per scale factor in its own job group; the numbers are the status store's
sums over every job of that group, so work a query runs while it builds
(eager checkpoints, per-round driver collects) counts with its final
plan's. Shuffle MB is shuffle bytes written; spill is disk spill; peak
task MB is the largest peak execution memory of one task; wall is
build + plan + execution. The ratio column compares shuffle bytes across
the two scale factors — an exact, jitter-free scaling signal (x10 data
should move <= x10 bytes; less means the query aggregates before it
exchanges).

Flags: **SPILL** = nonzero spill at bench scale (partitions outgrow
memory; will thrash at 100 TB); **SUPER** = shuffle bytes grew faster
than the data (x{ratio_limit} allowed for x10 data).

| query | rows@{b} | jobs @{a} | jobs @{b} | wall s @{b} | shuffle MB @{a} | shuffle MB @{b} | bytes ratio | spill MB | peak task MB |
|---|---|---|---|---|---|---|---|---|---|
"""

#: x10 data -> allow x11 bytes: shuffle framing + partial-agg fill are
#: per-partition overheads that inflate the larger run slightly; genuine
#: superlinear shapes blow well past this
RATIO_LIMIT = 11.0

#: measured explanations for flagged rows whose flag is NOT
#: data-superlinearity (the flag is a screen, these are the verdicts)
_NOTES = {
    "dedup_containment": (
        "pair volume before the tau filter is Σ_shingle df² — on the "
        "fixture's ~40-word vocabulary BACKGROUND shingle sharing between "
        "unrelated docs grows with corpus² until the df-cap bites "
        "(df > 1000 shingles are excluded, so the worst offenders are "
        "already capped out here); on a realistic vocabulary unrelated "
        "docs share almost nothing and the curve is linear — measured in "
        "STRESS.md's unique-content section (padded vocabulary, x100)"
    ),
    "pagerank_topk": (
        "partial-aggregate fill, not data growth: the edge exchange grows "
        "x10.2 with the data (11,878 → 121,311 rows), but each round's "
        "vertex-keyed rank-contribution exchange writes |V| = 1,889 rows "
        "from one map task at sf0.01 and 68,190 partial rows from four at "
        "sf0.1 — bounded by map tasks × |V|, so cluster-layout-bounded"
    ),
    "triangle_count": (
        "the same partial-aggregate fill on the degree/orientation "
        "exchanges (3,395 rows from two map tasks at sf0.01, 79,662 from "
        "six at sf0.1, ≤ map tasks × |V|) beside an edge exchange that "
        "grows x10.2 with the data"
    ),
}


def render_plans(recs: list[dict], sf: str, cores: int) -> str:
    rows, excerpts = [], []
    for r in recs:
        rows.append(
            f"| {r['name']} | {r['shuffles']} | {r['bhj']} | {r['smj']} | "
            f"{r['bnlj']} | {r['codegen']} | {r['python']} | {r['jobs']} |"
        )
        kept = [
            ln.strip()[:160] for ln in r["plan"].splitlines() if INTERESTING.search(ln)
        ][:14]
        excerpts.append(f"### {r['name']}\n\n```\n" + "\n".join(kept) + "\n```\n")
    return (
        PLANS_HEADER.format(sf=sf, cores=cores)
        + "\n".join(rows)
        + "\n\n## Per-query plan evidence (truncated to load-bearing lines)\n\n"
        + "\n".join(excerpts)
    )


def render_metrics(by_name: dict[str, tuple[dict, dict]], a: str, b: str, cores: int) -> str:
    mb = lambda x: round(x / 1e6, 2)  # noqa: E731
    lines = [METRICS_HEADER.format(a=a, b=b, cores=cores, ratio_limit=RATIO_LIMIT)]
    flagged: set[str] = set()
    n_spill = n_super = 0
    for name, (ra, rb) in sorted(by_name.items()):
        ratio = round(rb["shuffle_bytes"] / ra["shuffle_bytes"], 2) if ra["shuffle_bytes"] else None
        spill = ra["spill_bytes"] + rb["spill_bytes"]
        flags = []
        if spill:
            flags.append("**SPILL**")
            n_spill += 1
        if ratio and ratio > RATIO_LIMIT:
            flags.append("**SUPER**")
            n_super += 1
        if flags:
            flagged.add(name)
        wall = rb["build_s"] + rb["plan_s"] + rb["exec_s"]
        lines.append(
            f"| {' '.join([name, *flags])} | {rb['rows']} | {ra['jobs']} | {rb['jobs']}"
            f" | {wall:.2f} | {mb(ra['shuffle_bytes'])} | {mb(rb['shuffle_bytes'])}"
            f" | {f'x{ratio}' if ratio is not None else '— (0 bytes)'} | {mb(spill)}"
            f" | {mb(max(ra['peak_mem_bytes'], rb['peak_mem_bytes']))} |\n"
        )
    noted = sorted(flagged & set(_NOTES))
    if noted:
        lines.append("\n## Flag verdicts (measured causes)\n\n")
        lines += [f"- **{n}**: {_NOTES[n]}\n" for n in noted]
    lines.append(
        f"\n**Summary: {len(by_name)} queries audited, {n_spill} with spill,"
        f" {n_super} superlinear in shuffle bytes.**\n"
    )
    return "".join(lines)


def main() -> None:
    args = sys.argv[1:]
    dirs = [a for a in args if "/" in a] or [
        ORACLE_SF_DIR, str(Path(ORACLE_SF_DIR).with_name("sf0.1"))
    ]
    names = [a for a in args if "/" not in a]
    spark = get_spark("query-audit")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    qmap = query_map()
    if names:
        qmap = {n: qmap[n] for n in names}
    recs: dict[str, list[dict]] = {}
    for name, fn in qmap.items():
        for sf_dir in dirs:
            try:
                r = audit_one(spark, name, fn, sf_dir)
            except Exception as e:  # keep auditing; report the failure
                print(json.dumps({"name": name, "sf": Path(sf_dir).name, "error": repr(e)[:200]}), flush=True)
                continue
            recs.setdefault(name, []).append(r)
            print(json.dumps({k: v for k, v in r.items() if k != "plan"}), flush=True)
    spark.stop()
    if names:
        return
    failed = sorted(n for n in qmap if len(recs.get(n, [])) < len(dirs))
    if failed:
        sys.exit(f"not writing PLANS.md/METRICS.md: failed queries {failed}")
    sf_a = Path(dirs[0]).name
    (ROOT / "PLANS.md").write_text(render_plans([r[0] for r in recs.values()], sf_a, cores))
    print("wrote PLANS.md")
    if len(dirs) > 1:
        by_name = {n: (r[0], r[1]) for n, r in recs.items()}
        (ROOT / "METRICS.md").write_text(render_metrics(by_name, sf_a, Path(dirs[1]).name, cores))
        print("wrote METRICS.md")


if __name__ == "__main__":
    main()
