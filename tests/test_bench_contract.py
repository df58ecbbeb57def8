"""bench.py delivery-contract tests (no Spark session needed).

Round-3 VERDICT finding #1: BENCH_r03.json recorded ``"parsed": null``
because the final JSON line outgrew the driver's tail capture. Round-4
repeated it (the driver's window is 2,000 bytes; bench allowed 4,000)
AND the old version of this file asserted against the LIVE latest
BENCH_r0*.json, so the freshly-dropped unrecoverable r4 record turned
``pytest -x -q`` red. Both fixed: the records under test are PINNED
fixture copies (tests/fixtures/), ``_deltas_vs_prev`` walks back to the
newest recoverable round, and the final line is budgeted + spilled to
fit the real 2,000-byte window.
"""

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

import bench

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
R03_CFG = {"sf": 0.1, "cpus": 32, "timing_method": "best_of_2"}


def _stage(tmp_path, *names):
    """Copy pinned fixture records into a temp dir under the live
    BENCH_r{N}.json naming so _deltas_vs_prev scans exactly them."""
    for src, dst in names:
        shutil.copy(os.path.join(FIXTURES, src), os.path.join(tmp_path, dst))
    return str(tmp_path)


def test_deltas_survive_parsed_null_record(tmp_path):
    """The r3 record has parsed:null but its tail still carries the
    full queries object; deltas must recover it, not crash."""
    here = _stage(tmp_path, ("bench_r03.json", "BENCH_r03.json"))
    out = bench._deltas_vs_prev({"x1_extract_spans": 3.516}, {}, here=here, cfg=R03_CFG)
    assert out, "deltas should not be empty — the tail is recoverable"
    # recovered from the r3 tail: x1 was 3.516 s, so delta is ~0
    assert abs(out["delta_pct_vs_prev"]["x1_extract_spans"]) < 0.1
    assert out["prev_round"] == "BENCH_r03.json"
    assert out["prev_cfg"] == R03_CFG
    assert out["regressions"] == []


@pytest.mark.parametrize(
    "change",
    [{"cpus": 4}, {"sf": 0.01}, {"timing_method": "single_run"}],
)
def test_deltas_empty_when_config_differs(tmp_path, change):
    """A run that differs from the previous record in sf, cpus or
    timing_method gets no deltas and no regression flags, however much
    slower it reads (r03 timed x1 at 3.516 s on local[32])."""
    here = _stage(tmp_path, ("bench_r03.json", "BENCH_r03.json"))
    slower = {"x1_extract_spans": 3.516 * 3}
    assert bench._deltas_vs_prev(slower, {}, here=here, cfg=R03_CFG)["regressions"]
    assert bench._deltas_vs_prev(slower, {}, here=here, cfg={**R03_CFG, **change}) == {}


def test_deltas_fall_back_past_unrecoverable_round(tmp_path):
    """The r4 record's tail truncation chopped the ``"queries"`` key
    entirely (the round-4 failure shape): _deltas_vs_prev must walk
    back to the newest RECOVERABLE round instead of returning {}."""
    here = _stage(
        tmp_path,
        ("bench_r03.json", "BENCH_r03.json"),
        ("bench_r04_truncated.json", "BENCH_r04.json"),
    )
    out = bench._deltas_vs_prev({"x1_extract_spans": 3.516}, {}, here=here, cfg=R03_CFG)
    assert out, "unrecoverable r4 must not empty the deltas"
    assert out["prev_round"] == "BENCH_r03.json"
    assert abs(out["delta_pct_vs_prev"]["x1_extract_spans"]) < 0.1


def test_deltas_empty_when_nothing_recoverable(tmp_path):
    here = _stage(tmp_path, ("bench_r04_truncated.json", "BENCH_r04.json"))
    assert bench._deltas_vs_prev({"x1_extract_spans": 3.5}, {}, here=here, cfg=R03_CFG) == {}


def test_recover_from_tail_roundtrip():
    rec = json.dumps(
        {
            "metric": "m",
            "queries": {"a": 1.5, "b": 0.25},
            "sf": 0.01,
            "cpus": 8,
            "timing_method": "best_of_2",
        }
    )
    # simulate the driver's tail truncation chopping the line's head
    got = bench._recover_from_tail(rec[10:])
    assert got == {
        "queries": {"a": 1.5, "b": 0.25},
        "sf": 0.01,
        "cpus": 8,
        "timing_method": "best_of_2",
    }


def test_recover_from_tail_garbage():
    assert bench._recover_from_tail("") is None
    assert bench._recover_from_tail('"queries": {not json}') is None


def _worst_case_record() -> dict:
    """A record bulkier than any real round: the full 11-query headline
    with long names, 59-query delta map, 10 regressions with notes,
    per-query steal, remeasure counts, and the scaling block."""
    q59 = {f"q{i:02d}_some_operator_name_{i}": round(1.0 + i / 7.0, 3) for i in range(59)}
    headline = {name: q59[name] for name in list(q59)[:11]}
    regs = [
        {
            "name": n,
            "delta_pct": 33.9,
            "steal_pct": 0.4,
            "note": "steal only 0.4% during best run; not explained by host noise — investigate",
        }
        for n in list(q59)[:10]
    ]
    return {
        "metric": "headline suite wall time (extraction + operator queries)",
        "value": 17.174,
        "unit": "sec",
        "queries": headline,
        "sf": 0.1,
        "n_docs": 5000,
        "docs_per_sec": 1534.68,
        "cpus": 32,
        "timing_method": "best_of_2",
        "steal_pct": {n: 0.4 for n in headline},
        "remeasured_runs": {n: 7 for n in list(headline)[:5]},
        "fresh_process_retimed": list(headline)[:5],
        "prev_round": "BENCH_r04.json",
        "prev_cfg": {"sf": 0.1, "cpus": 32, "timing_method": "best_of_2"},
        "delta_pct_vs_prev": {n: -7.3 for n in q59},
        "regressions": regs,
        "delta_caveat": "prev round used single-run timings; best-of-2 vs "
        "single-run deltas overstate speedups",
        "scaling": {
            "eff_2_8": 0.921,
            "eff_8_32": 0.846,
            "steal_at_best": {"2": 0.97, "8": 0.28, "32": 0.28},
            "budget_met": {"2": True, "8": True, "32": True},
            "file": "BENCH/scaling.json",
        },
        "native_file": "BENCH/native.json",
    }


def test_compact_line_fits_driver_tail_window():
    """Round-4 VERDICT task 2's done-criterion: even a worst-case
    record's final line stays under the 1,800-byte budget (driver
    window is 2,000), with the bulk spilled to the detail record."""
    rec = _worst_case_record()
    line, compact, detail = bench._compact_line(rec, "BENCH/record_r05.json")
    assert len(line) < bench.MAX_LINE_BYTES, f"{len(line)} bytes"
    parsed = json.loads(line)
    assert parsed == compact
    # the contract fields ride on the line
    assert parsed["queries"] == rec["queries"]
    assert parsed["docs_per_sec"] == rec["docs_per_sec"]
    assert parsed["value"] == rec["value"]
    assert parsed["detail_file"] == "BENCH/record_r05.json"
    assert parsed["regressed"] == [r["name"] for r in rec["regressions"]]
    # the bulk is spilled, not dropped
    for k in bench.SPILL_KEYS:
        assert k not in parsed
        if k in rec:
            assert detail[k] == rec[k]


def test_next_round_detail_path(tmp_path):
    _stage(
        tmp_path,
        ("bench_r03.json", "BENCH_r03.json"),
        ("bench_r04_truncated.json", "BENCH_r04.json"),
    )
    assert bench._next_round_detail_path(str(tmp_path)) == os.path.join(
        "BENCH", "record_r05.json"
    )
    empty = tmp_path / "empty"
    empty.mkdir()
    assert bench._next_round_detail_path(str(empty)) == os.path.join(
        "BENCH", "record_r01.json"
    )


def test_parse_args_raw_only():
    got = bench._parse_args(
        ["--raw", "--only", "d3_minhash_lsh,d4_simhash", "--sf-dir", "/x", "--cpus", "8"]
    )
    assert got == {
        "sf_dir": "/x",
        "cpus": 8,
        "raw": True,
        "only": ["d3_minhash_lsh", "d4_simhash"],
    }
