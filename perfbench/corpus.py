"""Seeded workload inputs.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files, another seed writes different ones. The
program under test only ever sees the written files.

The two form corpora are seeded samples from fixed doc-id universes, so
that the reference-oracle results can be computed once per universe
(``expected.py``) instead of once per run: the oracle costs ~50 ms per
document single-threaded, far more than the timed pass itself.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

# The program memoizes text normalization and matching per token string
# (functions/text.py), so a pass over documents its workers have already
# seen runs faster than a pass over new ones. An extract job sees each
# document once, so every timed pass gets its own fresh documents, drawn
# without overlap with the warm pass and with each other.
#
# A run makes ``--seconds`` over the workload's nominal pass length
# (``PASS_S``, measured on a 4-vCPU host) timed passes, rounded, at least
# the workload's MIN_PASSES and at most MAX_PASSES. The count depends on
# the arguments only, never on measured times, so a faster or slower
# program makes the same passes and its median mixes the same pass
# positions. forms_skew_resume always makes two: its pass is a kill and a
# resume of a few seconds each, and a burst of host load in one of them
# moved single-pass run medians by up to 25%.
MIN_PASSES = {"forms_skew_resume": 2}
MAX_PASSES = 3
PASS_S = {"forms_fused": 4.0, "forms_skew_resume": 7.5, "native_pages": 6.0, "operators_suite": 6.5}


def n_passes(workload: str, seconds: float) -> int:
    return max(MIN_PASSES.get(workload, 1), min(MAX_PASSES, round(seconds / PASS_S[workload])))


# forms_fused: per timed pass 1,600 uniform synthetic forms (1-3 pages,
# both schema variants), plus 600 for the warm pass, drawn from 12,000.
FUSED_UNIVERSE = 12000
FUSED_DOCS = 1600
FUSED_WARM_DOCS = 600

# forms_skew_resume: heavy-tail corpus, 2% of docs with 100-500 pages.
SKEW_LIGHT_UNIVERSE = 4800
SKEW_HEAVY_UNIVERSE = 96
SKEW_LIGHT_DOCS = 392
SKEW_HEAVY_DOCS = 8
# checkpoint layout the workload runs with: 4 bucket groups, the kill
# lands after the first 2
SKEW_BUCKETS = 32
SKEW_GROUP_SIZE = 8
SKEW_GROUPS = SKEW_BUCKETS // SKEW_GROUP_SIZE

# native_pages: 2-page rendered docs (real preprocess + template match);
# 24 pages split evenly over the paged plan's decode partitions (two per
# task slot) on 4 slots
NATIVE_DOCS = 12

# the 11 non-extraction headline queries of __spark_entry__.queries()
OPERATOR_QUERIES = [
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
# operator tables at a tenth of the sf0.1 row counts; at this size each query's fixed planning and task cost is
# still a large share of its time, as it is for these queries at sf0.1
OPERATOR_SCALE = 0.1
OPERATOR_TABLES = ["lineitem", "customer", "supplier", "events", "documents", "embeddings"]


def _rng(*key) -> random.Random:
    return random.Random(":".join(str(k) for k in key))


# ---------------------------------------------------------------------------
# doc-id universes
# ---------------------------------------------------------------------------


def fused_universe() -> list[str]:
    return [f"ff{i:05d}" for i in range(FUSED_UNIVERSE)]


def skew_universe() -> tuple[list[str], list[str]]:
    """(light ids, heavy ids): the first ids of the ``fs`` sequence whose
    skewed page count is below / at least 100 pages."""
    from pdf_parser_spark.fixtures.generator import doc_page_count

    light, heavy = [], []
    i = 0
    while len(light) < SKEW_LIGHT_UNIVERSE or len(heavy) < SKEW_HEAVY_UNIVERSE:
        doc_id = f"fs{i:05d}"
        if doc_page_count(doc_id, skew=True) >= 100:
            if len(heavy) < SKEW_HEAVY_UNIVERSE:
                heavy.append(doc_id)
        elif len(light) < SKEW_LIGHT_UNIVERSE:
            light.append(doc_id)
        i += 1
    return light, heavy


# ---------------------------------------------------------------------------
# Spark's xxhash64 (seed 42) for short strings, to predict the checkpoint
# bucket of a doc id: the corpus is drawn so that every bucket group
# carries the same share of light docs and of heavy pages.
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` (< 32 bytes) as Spark's signed long."""
    if len(data) >= 32:
        raise ValueError("xxhash64 here covers inputs shorter than 32 bytes")
    h = (seed + _P5 + len(data)) & _M64
    off = 0
    while off + 8 <= len(data):
        k = int.from_bytes(data[off : off + 8], "little")
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        off += 8
    if off + 4 <= len(data):
        h ^= (int.from_bytes(data[off : off + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        off += 4
    while off < len(data):
        h ^= (data[off] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        off += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def checkpoint_bucket(doc_id: str, n_buckets: int = SKEW_BUCKETS) -> int:
    """``pmod(xxhash64(doc_id), n_buckets)`` as streaming.checkpoint computes it."""
    return xxhash64(doc_id.encode()) % n_buckets


# ---------------------------------------------------------------------------
# corpus selection
# ---------------------------------------------------------------------------


def fused_corpora(seed: int) -> tuple[list[str], list[list[str]]]:
    """(warm-pass docs, docs of each timed pass): disjoint seeded draws."""
    r = _rng("forms_fused", seed)
    docs = r.sample(fused_universe(), FUSED_WARM_DOCS + MAX_PASSES * FUSED_DOCS)
    warm, rest = docs[:FUSED_WARM_DOCS], docs[FUSED_WARM_DOCS:]
    return sorted(warm), [sorted(rest[i * FUSED_DOCS : (i + 1) * FUSED_DOCS]) for i in range(MAX_PASSES)]


def skew_corpora(seed: int) -> tuple[list[str], list[list[str]]]:
    """(warm-pass docs, docs of each timed pass): disjoint heavy-tail
    corpora with 2% heavy docs. Every bucket group of the checkpoint gets
    the same number of light and heavy docs, and each group's heavy pages
    stay within 5% of the universe mean, so the kill point, the page total
    and the straggler load do not drift with the seed. The warm pass gets
    48 light docs, 12 per group."""
    from pdf_parser_spark.fixtures.generator import doc_page_count

    light, heavy = skew_universe()
    r = _rng("forms_skew_resume", seed)

    def by_group(ids):
        groups = [[] for _ in range(SKEW_GROUPS)]
        for d in ids:
            groups[checkpoint_bucket(d) // SKEW_GROUP_SIZE].append(d)
        return groups

    pages = {d: doc_page_count(d, skew=True) for d in heavy}
    n_heavy = SKEW_HEAVY_DOCS // SKEW_GROUPS
    n_light = SKEW_LIGHT_DOCS // SKEW_GROUPS
    target = n_heavy * sum(pages.values()) / len(pages)
    warm: list[str] = []
    passes: list[list[str]] = [[] for _ in range(MAX_PASSES)]
    for pool, light_pool in zip(by_group(heavy), by_group(light)):
        for chosen in passes:
            for _ in range(10_000):
                pick = r.sample(pool, n_heavy)
                if abs(sum(pages[d] for d in pick) - target) <= 0.05 * target:
                    break
            else:
                raise RuntimeError("no heavy-doc draw within 5% of the page target")
            chosen += pick
            pool = [d for d in pool if d not in pick]
        lights = r.sample(light_pool, MAX_PASSES * n_light + 12)
        for i, chosen in enumerate(passes):
            chosen += lights[i * n_light : (i + 1) * n_light]
        warm += lights[MAX_PASSES * n_light :]
    return sorted(warm), [sorted(p) for p in passes]


def write_documents(path: str, doc_ids: list[str], skew: bool = False) -> int:
    """Write the documents table for ``doc_ids``; returns its page count."""
    from pdf_parser_spark.fixtures.generator import doc_spans

    spans = [doc_spans(d, skew) for d in doc_ids]
    pd.DataFrame({"doc_id": doc_ids, "spans": spans}).to_parquet(
        path, index=False, row_group_size=250
    )
    return sum(1 for doc in spans for s in doc if s["kind"] != "text")


def native_indices(seed: int, n: int = NATIVE_DOCS) -> list[int]:
    """Doc indices for the native simulator (its page key holds 16 bits)."""
    return sorted(_rng("native_pages", seed).sample(range(1 << 16), n))


def write_native_pages(page_dir: str, indices: list[int]) -> str:
    """Rendered 900x1100 pages plus a documents parquet pointing at them,
    laid out as ``fixtures.native_sim.build_native_fixture`` lays them out
    (so ``native_sim.expected_spans`` applies), for seeded indices."""
    from pdf_parser_spark.fixtures import native_sim as NS

    os.makedirs(page_dir, exist_ok=True)
    rows = []
    for idx in indices:
        spans = [{"kind": "text", "text": f"native doc {idx}", "media_ref": "", "offset": 0}]
        for page_no in (1, 2):
            path = os.path.join(page_dir, f"d{idx}_p{page_no}.npy")
            np.save(path, NS.render_page(idx, page_no))
            spans.append({"kind": "pdf_page", "text": "", "media_ref": path, "offset": page_no})
        rows.append({"doc_id": NS.doc_id_of(idx), "spans": spans})
    docs_path = os.path.join(page_dir, "documents.parquet")
    pd.DataFrame(rows).to_parquet(docs_path, index=False)
    return docs_path


# ---------------------------------------------------------------------------
# operator tables: the columns and value domains of the sf0.1 test tables
# that the 11 operator queries read, generated from the seed
# ---------------------------------------------------------------------------

_VOCAB = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join index page"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def write_operator_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """lineitem, customer, supplier, events, documents and embeddings at
    ``scale`` x sf0.1 row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(scale * 1000)])

    def save(name: str, cols: dict) -> None:
        pd.DataFrame(cols).to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    n_orders = int(150_000 * scale)
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(float)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    save("lineitem", {
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, int(20_000 * scale) + 1, n_li),
        "l_suppkey": rng.integers(0, int(1_000 * scale) + 1, n_li),
        "l_linenumber": (np.arange(n_li) - start + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 90_000, 210_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": (pd.Timestamp("1992-01-01")
                       + pd.to_timedelta(rng.integers(0, 2500, n_li), unit="D")).astype("datetime64[us]"),
    })

    n_cust, n_supp = int(15_000 * scale), max(int(1_000 * scale), 50)
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, n_supp),
    })

    n_ev = int(100_000 * scale)
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(ts_us, unit="us")).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1_500, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": _cents(rng, 0, 50_000, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: word soup with ~1% exact and ~5% one-word-edit duplicates,
    # so the dedup and LSH queries find pairs
    n_docs = int(5_000 * scale)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 96))]) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        words = texts[int(rng.integers(0, n_docs))].split()
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[i] = " ".join(words)
    save("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_vec = int(2_000 * scale)
    vecs = (rng.standard_normal((n_vec, 64)) * 0.15).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
