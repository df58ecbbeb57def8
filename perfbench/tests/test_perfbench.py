"""The benchmark's own tests: seeded inputs, the oracle check, the metric
contract. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import expected  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in files:
            p = os.path.join(root, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def _inputs(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    # always the same directory: the native documents table records the
    # pages' absolute paths
    d = tmp_path / "inputs"
    d.mkdir()
    try:
        if name == "forms_fused":
            corpus.write_documents(str(d / "docs.parquet"), corpus.fused_corpora(seed)[1][0][:200])
        elif name == "forms_skew_resume":
            corpus.write_documents(str(d / "docs.parquet"), corpus.skew_corpora(seed)[1][0][:200], skew=True)
        elif name == "native_pages":
            corpus.write_native_pages(str(d / "pages"), corpus.native_indices(seed, n=2))
        else:
            corpus.write_operator_tables(str(d / "tables"), seed, scale=0.02)
        return _files(str(d))
    finally:
        shutil.rmtree(d)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, name):
    a, b, c = _inputs(tmp_path, name, 7), _inputs(tmp_path, name, 7), _inputs(tmp_path, name, 8)
    assert a == b
    assert a.keys() != c.keys() or any(a[k] != c[k] for k in a)


@pytest.mark.parametrize("corpora", [corpus.fused_corpora, corpus.skew_corpora])
def test_passes_draw_disjoint_docs(corpora):
    warm, passes = corpora(3)
    seen = set(warm)
    for ids in passes:
        assert not seen & set(ids)
        seen |= set(ids)


def test_skew_corpus_shape():
    from pdf_parser_spark.fixtures.generator import doc_page_count

    for ids in corpus.skew_corpora(3)[1]:
        heavy = [d for d in ids if doc_page_count(d, skew=True) >= 100]
        assert len(ids) == corpus.SKEW_LIGHT_DOCS + corpus.SKEW_HEAVY_DOCS
        assert len(heavy) == corpus.SKEW_HEAVY_DOCS
        groups = [corpus.checkpoint_bucket(d) // corpus.SKEW_GROUP_SIZE for d in heavy]
        assert sorted(groups) == sorted(list(range(corpus.SKEW_GROUPS)) * (len(heavy) // corpus.SKEW_GROUPS))


def test_xxhash64_matches_spark():
    # values from Spark's F.xxhash64(F.lit(...)) on this Spark version
    assert corpus.xxhash64(b"abc") == 1423657621850124518
    assert corpus.xxhash64(b"fs00001") == -8876159794861199213


@pytest.mark.parametrize("name", ["forms_fused", "forms_skew_resume"])
def test_digest_tables_match_the_oracle(name):
    ids, _skew = expected.universe(name)
    table = expected.load(name)
    expected.verify_sample(name, ids, table, seed=0, n=4)


def _write_spans(path: str, docs: dict[str, list[tuple]]) -> None:
    rows = [(d, *span) for d, spans in docs.items() for span in spans]
    pd.DataFrame(rows, columns=["doc_id", "kind", "text", "media_ref", "order"]).to_parquet(path)


def test_oracle_check_fails_on_a_corrupted_span(tmp_path):
    ids = corpus.fused_corpora(5)[1][0][:3]
    table = expected.load("forms_fused")
    want = {d: table[d] for d in ids}
    spans = {d: expected.oracle_spans(d, skew=False) for d in ids}
    good = str(tmp_path / "good")
    _write_spans(good, spans)
    assert workloads._compare(good, want) == (3, 0)

    kind, text, ref, order = spans[ids[1]][-1]
    spans[ids[1]][-1] = (kind, text + "x", ref, order)
    bad = str(tmp_path / "bad")
    _write_spans(bad, spans)
    assert workloads._compare(bad, want) == (3, 1)

    del spans[ids[2]]
    _write_spans(bad, spans)
    assert workloads._compare(bad, want) == (3, 2)


def test_operator_check_fails_on_a_corrupted_value():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
    assert workloads.frames_equal(want.iloc[::-1].copy(), want)
    bad = want.copy()
    bad.loc[0, "v"] = 0.25
    assert not workloads.frames_equal(bad, want)
    assert not workloads.frames_equal(want.rename(columns={"v": "w"}), want)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_command_prints():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def _run(args, cwd, timeout=400):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=timeout,
    )


def _result(workload: str, trace: str) -> dict:
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


@pytest.mark.parametrize("trace", ["0", "1"])
def test_command_prints_every_metric(trace):
    bench = _benchmark_json()
    key = "end_to_end" if trace == "0" else "per_layer"
    result = _result("forms_fused", trace)
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == {m["name"]: m["unit"] for m in bench[key]}
    if trace == "1":
        m = {k: v["value"] for k, v in result["metrics"].items()}
        # the in-process self times cover the in-process pass ...
        assert 0.9 <= m["trace.self_coverage"] <= 1.0
        # ... because the layer wrappers fired, not because untraced time
        # fell into extract_document's self time
        for name in ("decoder.self_s", "geometry.labels_s", "geometry.regions_s",
                     "geometry.assign_s", "questions.match_s", "questions.answers_s"):
            assert m[name] > 0, name
        assert m["extract.self_s"] < 0.25 * m["trace.inprocess_wall_s"]


def test_traced_resume_extracts_each_doc_once():
    m = {k: v["value"] for k, v in _result("forms_skew_resume", "1")["metrics"].items()}
    assert m["checkpoint.groups"] == corpus.SKEW_GROUPS
    assert m["checkpoint.redo_ratio"] == 1.0


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", ".traces"))
    p = _run(["--workload", "forms_fused", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path, 180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
