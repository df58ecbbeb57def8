"""Reference-oracle results for the form workloads, as per-doc digests.

``oracle.reference_oracle.extract_document_spans`` costs ~50 ms per
document single-threaded, so it runs once per doc-id universe, offline:

    python3 perfbench/expected.py          # rewrites perfbench/expected/*.npy

Each table holds one 64-bit digest per universe doc (universe order) of
the doc's oracle span list. A run looks up the digests of the docs its
seed drew, and re-runs the oracle on a seeded sample of them
(``verify_sample``), so a table that no longer matches the oracle or the
generator fails the run instead of passing stale results.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
TABLE_DIR = os.path.join(HERE, "expected")


def digest(spans) -> int:
    """64-bit digest of one doc's ordered (kind, text, media_ref, order) spans."""
    canon = repr([(str(k), str(t), str(m), int(o)) for k, t, m, o in spans])
    return int.from_bytes(hashlib.blake2b(canon.encode(), digest_size=8).digest(), "little")


def oracle_spans(doc_id: str, skew: bool) -> list[tuple]:
    from pdf_parser_spark.fixtures.generator import (
        doc_page_count,
        doc_spans,
        form_schemas,
        page_perception,
    )
    from pdf_parser_spark.oracle.reference_oracle import extract_document_spans

    pages = {p: page_perception(doc_id, p) for p in range(1, doc_page_count(doc_id, skew) + 1)}
    return extract_document_spans(doc_spans(doc_id, skew), pages, form_schemas())


def _oracle_digest(args: tuple[str, bool]) -> int:
    return digest(oracle_spans(*args))


def universe(workload: str) -> tuple[list[str], bool]:
    """(universe doc ids in table order, skew flag)."""
    import corpus

    if workload == "forms_fused":
        return corpus.fused_universe(), False
    light, heavy = corpus.skew_universe()
    return light + heavy, True


def load(workload: str) -> dict[str, int]:
    ids, _ = universe(workload)
    table = np.load(os.path.join(TABLE_DIR, f"{workload}.npy"))
    if len(table) != len(ids):
        raise ValueError(f"{workload}: digest table has {len(table)} rows, universe {len(ids)}")
    return dict(zip(ids, (int(x) for x in table)))


def verify_sample(workload: str, doc_ids: list[str], table: dict[str, int],
                  seed: int, n: int = 12) -> None:
    """Re-run the oracle on ``n`` seeded light docs of the corpus and
    require the table to agree."""
    import random

    from pdf_parser_spark.fixtures.generator import doc_page_count

    skew = workload == "forms_skew_resume"
    light = [d for d in doc_ids if doc_page_count(d, skew) < 100]
    for d in random.Random(f"verify:{workload}:{seed}").sample(light, min(n, len(light))):
        if _oracle_digest((d, skew)) != table[d]:
            raise RuntimeError(
                f"{workload}: expected-digest table disagrees with the oracle on {d}; "
                "regenerate it with: python3 perfbench/expected.py"
            )


def build(workload: str, procs: int) -> np.ndarray:
    import multiprocessing as mp

    ids, skew = universe(workload)
    with mp.get_context("spawn").Pool(procs) as pool:
        digests = pool.map(_oracle_digest, [(d, skew) for d in ids], chunksize=16)
    return np.array(digests, dtype=np.uint64)


def main() -> int:
    procs = min(4, len(os.sched_getaffinity(0)))
    os.makedirs(TABLE_DIR, exist_ok=True)
    for workload in ("forms_fused", "forms_skew_resume"):
        np.save(os.path.join(TABLE_DIR, f"{workload}.npy"), build(workload, procs))
        print(f"wrote {workload}.npy", flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.path.dirname(HERE))
    sys.exit(main())
