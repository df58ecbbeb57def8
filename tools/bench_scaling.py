"""Two-parallelism scaling evidence (north_rule sandbox substitution:
local[N] vs local[4N] stand in for N vs 4N executors).

Runs the SAME extraction job on the SAME input at both parallelism
levels (each in a fresh subprocess → fresh JVM), takes best-of-K
(this sandbox VM shows up to ~30% hypervisor CPU-steal, so min is the
steady-state estimator), computes throughput and scaling efficiency
(= (thr@4N / thr@N) / 4), and writes BENCH/BASELINE.md.

Steal-aware (round-3 VERDICT task 1): every timed run samples
/proc/stat steal around itself; a level is only ACCEPTED when its
best (min-time) run executed under the steal budget (default <2%).
Levels that miss the budget are re-run in fresh sessions (up to
--max-sessions); if the host never calms, the lowest-steal session is
kept and the miss is recorded honestly in scaling.json/BASELINE.md.

Two pairs are reported:
- N=2 → 4N=8: clean regime (≤16 runnable threads on the 32-vCPU host;
  no self-contention) — the apples-to-apples scaling number.
- N=8 → 4N=32: saturation regime (python workers + JVM task threads
  oversubscribe every host vCPU while the hypervisor steals cycles) —
  reported with that caveat.

Usage: python tools/bench_scaling.py [n_docs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STEAL_BUDGET_PCT = 2.0  # a run is "calm" when sampled steal is below this
MAX_SESSIONS = 4  # fresh-JVM retries per level before accepting the best seen

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pdf_parser_spark.session import get_spark
from pdf_parser_spark.plans.extract import extract_spans
from perfbench.procfs import cpu_counters, steal_pct

spark = get_spark("scaling", master="local[{cpus}]", shuffle_partitions={cpus})
docs = spark.read.parquet({docs_path!r})
n_docs = docs.count()
# first run warms codegen + python worker pool; then best-of-N
extract_spans(docs).write.format("noop").mode("overwrite").save()
runs, steals = [], []
for _ in range(2 if {cpus} <= 2 else 3):
    s0 = cpu_counters()
    t0 = time.time()
    extract_spans(docs).write.format("noop").mode("overwrite").save()
    runs.append(round(time.time() - t0, 2))
    steals.append(round(steal_pct(s0, cpu_counters()), 2))
sec = min(runs)
steal_at_best = steals[runs.index(sec)]
print("RESULT::" + json.dumps({{"cpus": {cpus}, "n_docs": n_docs, "runs": runs,
                                "run_steal_pct": steals, "sec": sec,
                                "steal_at_best": steal_at_best,
                                "docs_per_sec": round(n_docs / sec, 2)}}))
spark.stop()
"""


def run_at(docs_path: str, cpus: int) -> dict:
    """One fresh-JVM session at a given parallelism level."""
    code = RUNNER.format(repo=REPO, docs_path=docs_path, cpus=cpus)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=1800
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT::"):
            return json.loads(line[len("RESULT::") :])
    raise RuntimeError(f"bench at {cpus} cpus failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def run_level(
    docs_path: str,
    cpus: int,
    budget: float = STEAL_BUDGET_PCT,
    max_sessions: int = MAX_SESSIONS,
) -> dict:
    """Steal-budgeted level measurement: re-run fresh-JVM sessions until
    the best run of a session was sampled under the steal budget, then
    report that session. If no session meets the budget, keep the one
    whose best run saw the least steal, flagged ``budget_met: false``."""
    sessions = []
    for attempt in range(1, max_sessions + 1):
        r = run_at(docs_path, cpus)
        r["session"] = attempt
        sessions.append(r)
        s = r.get("steal_at_best")
        print(
            f"level local[{cpus}] session {attempt}: sec={r['sec']} "
            f"steal_at_best={s}%",
            file=sys.stderr,
        )
        if s is not None and s < budget:
            break
    calm = [r for r in sessions if (r.get("steal_at_best") or 99.0) < budget]
    pool = calm or sessions
    best = min(pool, key=lambda r: r["sec"])
    best = dict(best)
    best["budget_met"] = bool(calm)
    best["steal_budget_pct"] = budget
    best["sessions"] = len(sessions)
    # keep every session's evidence for the adjudication trail
    best["all_sessions"] = [
        {k: r[k] for k in ("session", "sec", "runs", "run_steal_pct", "steal_at_best")}
        for r in sessions
    ]
    return best


def build_fixture(n_docs: int) -> str:
    """Skewed scaling corpus (heavy-tailed page counts per FIXTURES.md
    §1): documents parquet only — perception regenerates on executors."""
    import pandas as pd

    from pdf_parser_spark.fixtures.generator import doc_spans

    path = f"/tmp/scaling_fixture_{n_docs}"
    pq = os.path.join(path, "documents.parquet")
    if not os.path.exists(pq):
        os.makedirs(path, exist_ok=True)
        doc_ids = [f"scale_{i:08d}" for i in range(n_docs)]
        pd.DataFrame(
            {"doc_id": doc_ids, "spans": [doc_spans(d, skew=True) for d in doc_ids]}
        ).to_parquet(pq, index=False, row_group_size=1000)
    return pq


def main():
    # usage: bench_scaling.py run <cpus> [n_docs]  — one level, saves JSON
    #        bench_scaling.py report [n_docs]      — combine + write BENCH/
    #        bench_scaling.py [n_docs]             — all levels inline
    args = sys.argv[1:]
    if args and args[0] == "run":
        cpus = int(args[1])
        n_docs = int(args[2]) if len(args) > 2 else 48000
        r = run_level(build_fixture(n_docs), cpus)
        with open(f"/tmp/scaling_result_{cpus}.json", "w") as f:
            json.dump(r, f)
        print(json.dumps(r))
        return
    if args and args[0] == "report":
        results = {}
        for c in (2, 8, 32):
            with open(f"/tmp/scaling_result_{c}.json") as f:
                results[c] = json.load(f)
        _write_report(results)
        return
    n_docs = int(args[0]) if args else 48000
    docs_path = build_fixture(n_docs)
    results = {}
    for c in (2, 8, 32):
        results[c] = run_level(docs_path, c)
        with open(f"/tmp/scaling_result_{c}.json", "w") as f:
            json.dump(results[c], f)
    _write_report(results)


def _write_report(results: dict):
    def eff(lo: int, hi: int) -> float:
        return (results[hi]["docs_per_sec"] / results[lo]["docs_per_sec"]) / (hi / lo)

    e28 = eff(2, 8)
    e832 = eff(8, 32)

    def _fmt_steal(r: dict) -> str:
        s = r.get("steal_at_best")
        flag = "" if r.get("budget_met", True) else " ⚠ over budget"
        return ("n/a" if s is None else f"{s}%") + flag

    rows = "\n".join(
        f"| local[{c}] | {r['sec']:.2f} | {r['docs_per_sec']:.1f} | "
        f"{_fmt_steal(r)} | {r.get('sessions', 1)} | {r['runs']} |"
        for c, r in results.items()
    )
    md = f"""# BENCH — measured baseline

Scaling evidence for the north-rule two-cluster-size criterion
(sandbox substitution per the task brief: the same job on the same
input at two parallelism levels; efficiency = (thr@4N/thr@N)/4).

Input: skewed corpus of {results[2]["n_docs"]} interleaved documents
(heavy-tailed page counts, FIXTURES.md §1: ~2% of docs have 100-500
pages). Job: the full extraction pipeline in fused
mode (decode + geometry + flattening in one narrow mapInPandas pass —
zero shuffles; see plans/extract.py for the cost-based fused/paged
mode choice). Each level runs in a fresh JVM; reported time is
best-of-3 after a warm-up run. Steal-budgeted (r3 VERDICT task 1):
every timed run samples /proc/stat hypervisor steal around itself and
a level is accepted only when its best run measured steal <
{STEAL_BUDGET_PCT}% (re-run in a fresh session up to {MAX_SESSIONS}×
otherwise — the column below records the accepted run's steal).

| parallelism | wall (s) | docs/s | steal@best | sessions | runs |
|---|---|---|---|---|---|
{rows}

| pair | efficiency | regime |
|---|---|---|
| local[2] → local[8] | **{e28:.2f}** | clean: ≤16 runnable threads on the 32-vCPU host — the apples-to-apples number (target ≥ 0.8) |
| local[8] → local[32] | **{e832:.2f}** | saturated: 32 Python workers + 32 JVM task threads oversubscribe every host vCPU — under-reads whenever the hypervisor steals cycles; on a real 4N-executor cluster the added executors bring their own cores |

Raw JSON:

```json
{json.dumps(results[2])}
{json.dumps(results[8])}
{json.dumps(results[32])}
```

Reference comparison: the reference engine is single-threaded and
publishes no numbers (BASELINE.md); it spawns one Poppler render and
one Tesseract subprocess per page. Our per-page decode stand-in is
deterministic and synthetic, so absolute docs/s is not comparable to
real OCR — the relevant evidence is the scaling curve plus the plan
shape: fused mode is shuffle-free; paged mode (for expensive real
kernels) fans each document out page-granularly before its single
doc_id shuffle of opaque binary token payloads, so a multi-hundred-page
document cannot serialize one task.
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # preserve the appended history sections (round-over-round, paged/
    # native data points, adjudications): keep everything from the first
    # "## " heading of the existing file onward
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    tail = ""
    if os.path.exists(path):
        old = open(path).read()
        idx = old.find("\n## ")
        if idx >= 0:
            tail = old[idx:]
    with open(path, "w") as f:
        f.write(md + tail)
    summary = {
        "eff_2_8": round(e28, 3),
        "eff_8_32": round(e832, 3),
        "n_docs": results[2]["n_docs"],
        "steal_budget_pct": STEAL_BUDGET_PCT,
        "thr": {c: r["docs_per_sec"] for c, r in results.items()},
        "steal_at_best": {c: r.get("steal_at_best") for c, r in results.items()},
        "budget_met": {c: r.get("budget_met") for c, r in results.items()},
        "sessions": {c: r.get("sessions", 1) for c, r in results.items()},
        "runs": {c: r["runs"] for c, r in results.items()},
    }
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(summary, f)  # bench.py references this by path
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
