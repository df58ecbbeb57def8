"""Headline benchmark (driver contract).

Runs the flagship extraction pipeline plus representative operator
queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run
on) and prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "cpus": ...,
     "timing_method": "best_of_2", "docs_per_sec": ..., "n_docs": ...,
     "detail_file": "BENCH/record_r{N}.json"}

There is one timing path. After a warm-up, every headline query runs
twice in the same session, each run forced to full materialization
with the noop sink (no driver-side collect cost), and the faster run
is recorded with the hypervisor CPU steal sampled around it. No query
gets extra runs, so every number in a record means the same thing.
Extraction throughput (documents/sec, the north-rule metric) is
derived from the extraction query's timing.

Per-query deltas are taken against the newest driver round record
(``BENCH_r{N}.json``) whose line parsed, and only when sf, cpus and
timing method all match; queries slower by >10% are flagged. Deltas,
flags and steal samples spill to the detail file so the line stays
under the driver's 2,000-byte tail capture.

Usage: python bench.py [--sf-dir DIR] [--cpus N]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.procfs import cpu_counters, steal_pct  # noqa: E402

HEADLINE = [
    "x1_extract_spans",
    "a1_pricing_summary",
    "w1_sessionize",
    "j1_priority_dedupe",
    "j3_nearest_assign",
    "d1_exact_dedup",
    "d3_minhash_lsh",
    "d4_simhash",
    "t1_text_profile",
    "s1_cosine_topk",
    "m2_media_metadata_udf",
    "h1_main_content",
]

TIMED_RUNS = 2


def run_bench(sf_dir: str, cpus: int) -> dict:
    """Time the headline suite best-of-2 and return the full record."""
    import __spark_entry__ as E
    from pdf_parser_spark.operators.dedup import release_shingle_caches
    from pdf_parser_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    # warm-up: spin up executor threads + the Python UDF worker pool so
    # timings measure steady-state throughput, not process startup
    warm = spark.range(0, cpus * 4, 1, cpus)
    warm.mapInPandas(lambda it: (pdf for pdf in it), schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()

    qs = E.queries()

    def time_query(name: str) -> tuple[float, float]:
        # best-of-2: the first run also pays plan compilation + codegen,
        # and this host shows hypervisor CPU-steal spikes; the min
        # measures throughput
        best, best_steal = None, None
        for _ in range(TIMED_RUNS):
            s0 = cpu_counters()
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            sec = time.time() - t0
            if best is None or sec < best:
                best, best_steal = sec, round(steal_pct(s0, cpu_counters()), 1)
            # release operator-held caches (d2/d3 shingle projections)
            # so repeated invocations don't accumulate pinned storage
            release_shingle_caches()
        return best, best_steal

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    cfg = {"sf": sf, "cpus": cpus, "timing_method": f"best_of_{TIMED_RUNS}"}
    timings: dict[str, float] = {}
    steal: dict[str, float] = {}
    for name in HEADLINE:
        best, steal[name] = time_query(name)
        timings[name] = round(best, 3)

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    extract_sec = timings.get("x1_extract_spans")
    docs_per_sec = round(n_docs / extract_sec, 2) if extract_sec else None

    result = {
        "metric": "headline suite wall time (extraction + operator queries)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "n_docs": n_docs,
        "docs_per_sec": docs_per_sec,
        **cfg,
        "steal_pct": steal,
    }
    result.update(_deltas_vs_prev(timings, steal, cfg=cfg))
    result.update(_scaling_evidence())
    spark.stop()
    return result


def _scaling_evidence() -> dict:
    """COMPACT pointer to the two-parallelism scaling measurement
    (tools/bench_scaling.py writes BENCH/scaling.json; fresh-JVM,
    steal-budgeted — too slow to recompute inside every bench run).
    Only the headline efficiencies ride along; the bulky evidence
    stays in BENCH/scaling.json, referenced by path."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "BENCH", "scaling.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        s = json.load(f)
    return {
        "scaling": {
            "eff_2_8": s.get("eff_2_8"),
            "eff_8_32": s.get("eff_8_32"),
            "steal_at_best": s.get("steal_at_best"),
            "budget_met": s.get("budget_met"),
            "file": "BENCH/scaling.json",
        }
    }


def _round_files(directory: str, pattern: str) -> list[tuple[int, str]]:
    """(round number, file name) of every ``pattern`` match in
    ``directory``, oldest first; [] if the directory is absent."""
    if not os.path.isdir(directory):
        return []
    return sorted(
        (int(m.group(1)), f)
        for f in os.listdir(directory)
        if (m := re.fullmatch(pattern, f))
    )


def _deltas_vs_prev(
    timings: dict[str, float],
    steal: dict[str, float] | None = None,
    here: str | None = None,
    *,
    cfg: dict,
) -> dict:
    """Per-query deltas vs the newest BENCH_r{N}.json (driver round
    record) whose JSON line parsed: negative pct = faster this round;
    queries slower by >10% are flagged as regressions, each with a
    one-line steal-annotated adjudication. Timings are comparable only
    when sf, cpus and timing_method all match: ``cfg`` carries this
    run's values, and a previous record that differs in any of them
    yields no deltas and no flags (a local[32] record says nothing
    about a 4-core run).

    Rounds are walked newest→oldest; a record without parsed
    ``queries`` (``parsed: null`` when an old line outgrew the driver's
    tail capture) is skipped. ``here`` overrides the directory scanned
    (tests)."""
    here = here or os.path.dirname(os.path.abspath(__file__))
    prev, prev_name = None, None
    for _, name in reversed(_round_files(here, r"BENCH_r(\d+)\.json")):
        with open(os.path.join(here, name)) as f:
            cand = json.load(f)
        if "parsed" in cand:  # driver records wrap the JSON line
            cand = cand["parsed"]
        if isinstance(cand, dict) and cand.get("queries"):
            prev, prev_name = cand, name
            break
    if prev is None:
        return {}
    prev_cfg = {"sf": prev.get("sf"), "cpus": prev.get("cpus"),
                "timing_method": prev.get("timing_method", "single_run")}
    if prev_cfg != {k: cfg.get(k) for k in prev_cfg}:
        return {}
    prev_q = prev["queries"]
    deltas = {
        name: round((sec - prev_q[name]) / prev_q[name] * 100.0, 1)
        for name, sec in timings.items()
        if name in prev_q and prev_q[name]
    }
    steal = steal or {}
    regressions = []
    for name in sorted(n for n, d in deltas.items() if d > 10.0):
        s = steal.get(name)
        if s is not None and s > 3.0:
            note = f"hypervisor CPU steal {s}% during best run; likely host noise — re-measure"
        elif s is not None:
            note = f"steal only {s}% during best run; not explained by host noise — investigate"
        else:
            note = "no steal sample available — investigate"
        regressions.append(
            {"name": name, "delta_pct": deltas[name], "steal_pct": s, "note": note}
        )
    return {
        "prev_round": prev_name,
        "prev_cfg": prev_cfg,
        "delta_pct_vs_prev": deltas,
        "regressions": regressions,
    }


# the driver's tail capture is 2,000 bytes (both committed parsed:null
# records prove it: len(tail)==2000). Budget the final line well under
# that — everything bulky spills to a BENCH/ detail file by path.
MAX_LINE_BYTES = 1800

# moved wholesale into the detail file — diagnostics, not the headline
# contract (queries/value/docs_per_sec/scaling stay on the line)
SPILL_KEYS = ("steal_pct", "prev_cfg", "delta_pct_vs_prev", "regressions")


def _next_round_detail_path(here: str) -> str:
    """BENCH/record_r{N}.json for the round the driver is about to
    record this run under: N is one past both the newest BENCH_r*.json
    and the newest BENCH/record_r*.json, so an existing detail record
    is never overwritten."""
    nums = [n for n, _ in _round_files(here, r"BENCH_r(\d+)\.json")]
    nums += [n for n, _ in _round_files(os.path.join(here, "BENCH"), r"record_r(\d+)\.json")]
    n = (max(nums) + 1) if nums else 1
    return os.path.join("BENCH", f"record_r{n:02d}.json")


def _compact_line(result: dict, detail_rel: str) -> tuple[str, dict, dict]:
    """(final stdout line, the compact record it encodes, full detail
    record). The line keeps the driver-contract fields plus compact
    regression pointers; everything in SPILL_KEYS lives only in the
    detail file. If the line still overflows (headline suite growth),
    the scaling block degrades to its file pointer before anything
    contract-bearing is touched."""
    detail = dict(result)
    detail["detail_of"] = detail_rel
    compact = {k: v for k, v in result.items() if k not in SPILL_KEYS}
    regs = result.get("regressions") or []
    if regs:
        compact["regressed"] = [r["name"] for r in regs]
    compact["detail_file"] = detail_rel
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) >= MAX_LINE_BYTES and "scaling" in compact:
        compact["scaling"] = {"file": compact["scaling"].get("file", "BENCH/scaling.json")}
        line = json.dumps(compact, separators=(",", ":"))
    return line, compact, detail


def _parse_args(argv: list[str]) -> dict:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    out = {
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "cpus": int(cpus) if cpus else len(os.sched_getaffinity(0)),
    }
    it = iter(argv)
    for a in it:
        if a == "--sf-dir":
            out["sf_dir"] = next(it)
        elif a == "--cpus":
            out["cpus"] = int(next(it))
        else:
            raise SystemExit(f"unknown arg: {a}")
    return out


if __name__ == "__main__":
    args = _parse_args(sys.argv[1:])
    result = run_bench(args["sf_dir"], args["cpus"])
    # driver contract: ONE compact JSON object as the VERY LAST stdout
    # line, sized for the driver's 2,000-byte tail capture. Bulk spills
    # to BENCH/record_r{N}.json, referenced by path; the line
    # self-verifies it round-trips and fits.
    here = os.path.dirname(os.path.abspath(__file__))
    detail_rel = _next_round_detail_path(here)
    line, compact, detail = _compact_line(result, detail_rel)
    os.makedirs(os.path.join(here, "BENCH"), exist_ok=True)
    with open(os.path.join(here, detail_rel), "w") as f:
        json.dump(detail, f, indent=1)
    assert json.loads(line) == compact, "bench JSON does not round-trip"
    assert "\n" not in line, "bench JSON must be a single line"
    assert len(line) < MAX_LINE_BYTES, f"bench JSON line too long ({len(line)} bytes)"
    sys.stdout.flush()
    sys.stderr.flush()
    print(line)
