"""End-to-end extraction pipeline (SURVEY.md §3.4 stages A-D).

    documents ──explode──▶ media_pages ──repartition(RR)──▶ perceive()
        │                                (skew by granularity)   │
        │ mapInPandas: pack spans            (binary payload per page)
        ▼                                                        ▼
        └── union ── repartition(doc_id) ── sortWithinPartitions ──▶
                     streaming mapInPandas assembly ──▶ out spans

That is the paged plan. Besides the round-robin repartitions that
balance the pages and the doc headers, its one keyed shuffle is the
doc_id repartition, which moves opaque binary token payloads — never
page pixels, never nested Arrow structs. The fused plan is one
round-robin repartition of the doc rows and one narrow mapInPandas. The
assembly is a sort-merge streaming group: rows of one doc arrive
consecutively (header row page_no=0 carries the doc's input spans),
so grouping is a plain Python loop with zero per-group pandas
machinery — the per-group cost that dominates grouped-map APIs when
documents are small (10^12-doc regime). Geometry is per-doc sequential
(order-defined greedy semantics, SURVEY.md §7.4.1); documents are the
parallel unit — the job is embarrassingly parallel across executors.

Cross-page state (remaining-label bookkeeping, reference
/root/reference/extractor.py:978-1056) lives inside one doc's group —
the reason geometry groups by doc_id rather than (doc_id, page_no).

Output contract (driver invariant BASELINE.json:14): per-doc ordered
spans (kind, text, media_ref, order), flattened per SURVEY.md §7.2.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark import config as C
from pdf_parser_spark.plans import geometry as G
from pdf_parser_spark.schemas import OUT_SPANS_SCHEMA
from pdf_parser_spark.sources.decoder import PERCEPTION_SCHEMA as PERCEPTION_TRANSPORT_SCHEMA, perceive
from pdf_parser_spark.sources.documents import media_pages


def _page_entry(pages, page_no):
    """page entry → (tokens, matches, highlights, media_ref). Payloads
    are (tokens, matches, highlights) [synthetic] or (tokens, matches,
    highlights, media_ref) [native — the ref lets the Q/A layer rebuild
    a NativePerception lazily]."""
    entry = pages.get(page_no)
    if entry is None:
        return [], [], [], None
    if len(entry) == 3:
        return (*entry, None)
    return entry


def extract_document(
    doc_spans: list[dict],
    pages: dict[int, tuple],
    sections: list[dict] | dict[str, list[dict]],
    envs: dict[int, object] | None = None,
) -> list[tuple[str, str, str, int]]:
    """One document: cross-page label + question bookkeeping, per-page
    geometry + Q/A layer, canonical span flattening.
    ``pages``: page_no → (tokens, matches, highlights[, media_ref]).
    ``sections``: one schema, or {variant: schema} selected per doc by
    the page-1 gender keyword (S5/F15).
    ``envs``: page_no → PerceptionEnv for K5/K6; pages without one fall
    back to NativePerception(media_ref) when the payload carries a ref,
    else the synthetic model over the page's tokens+highlights."""
    from pdf_parser_spark.functions.text import detect_schema_variant
    from pdf_parser_spark.plans.questions import page_responses
    from pdf_parser_spark.sources.perception import NativePerception

    if isinstance(sections, dict):
        p1_tokens = _page_entry(pages, 1)[0]
        page1_text = " ".join(
            str(t["text"]) for t in sorted(p1_tokens, key=lambda t: t.get("tok_seq", 0))
        )
        sections = sections[detect_schema_variant(page1_text)]

    n_pages = max(pages) if pages else 0
    label_sections = [s for s in sections if s.get("labels")]
    remaining: dict[str, set[str]] = {s["section_name"]: set(s["labels"]) for s in label_sections}
    completed: set[str] = set()
    remaining_qs: dict[str, list[str]] = {}
    completed_qs: set[str] = set()
    page_sections: dict[int, list[dict]] = {}
    page_resp: dict[int, list[dict]] = {}

    for page_no in range(1, n_pages + 1):
        tokens, raw_matches, highlights, ref = _page_entry(pages, page_no)
        env = (envs or {}).get(page_no)
        if env is None and ref is not None:
            env = NativePerception(media_ref=ref)
        checkboxes = G.nms_dedupe(raw_matches)
        page = G.PageView(tokens)

        active: list[dict] = []
        labels_to_search: list[str] = []
        for sec in label_sections:
            name = sec["section_name"]
            if name in completed:
                continue
            rem = remaining.get(name, set())
            if not rem:
                completed.add(name)
                continue
            active.append(sec)
            labels_to_search.extend(sorted(rem))

        next_tokens = _page_entry(pages, page_no + 1)[0] if page_no < n_pages else None
        positions = G.find_label_positions(page, labels_to_search, next_tokens)
        regions = G.find_section_regions(page, sections, checkboxes)

        for sec in active:
            name = sec["section_name"]
            region = regions.get(name)
            if not region:
                continue
            y1_eff = region["y1"] + C.ANCHOR_OFFSET_PX
            still = {
                lbl
                for lbl in remaining.get(name, set())
                if not any(y1_eff <= ly <= region["y2"] for _, ly in positions.get(lbl, []))
            }
            remaining[name] = still
            if not still:
                completed.add(name)

        page_sections[page_no] = G.assign_checkboxes(checkboxes, active, positions, regions)

        # question/answer layer (cross-page remaining-question state)
        if page_no == 1:
            for sec in sections:
                qs = sec.get("questions") or []
                if qs:
                    remaining_qs[sec["section_name"]] = list(qs)
        q_active = []
        for sec in sections:
            name = sec["section_name"]
            qs = sec.get("questions") or []
            if not qs or name in completed_qs:
                continue
            rem_list = remaining_qs.get(name, [])
            if not rem_list:
                completed_qs.add(name)
                continue
            q_active.append(dict(sec, questions=list(rem_list)))

        resp = page_responses(
            tokens, q_active, regions,
            checkboxes=checkboxes, highlights=highlights, next_page_tokens=next_tokens,
            env=env,
        )
        for rsec in resp or []:
            name = rsec.get("section")
            for q in rsec.get("questions", []):
                rem_list = remaining_qs.get(name, [])
                if q.get("question") in rem_list:
                    rem_list.remove(q["question"])
                    remaining_qs[name] = rem_list
            if not remaining_qs.get(name):
                completed_qs.add(name)
        page_resp[page_no] = resp

    out: list[tuple[str, str, str, int]] = []
    order = 0
    page_no = 0
    for span in sorted(doc_spans, key=lambda s: s["offset"]):
        if span["kind"] == "text":
            out.append(("text", span["text"], "", order))
            order += 1
        else:
            page_no += 1
            for sec in page_sections.get(page_no, []):
                out.append(("section", sec["section"], span["media_ref"], order))
                order += 1
                for cb in sec["checkboxes"]:
                    out.append(
                        ("checkbox", f"{cb['label']}:{cb['status']}", span["media_ref"], order)
                    )
                    order += 1
            for rsec in page_resp.get(page_no, []) or []:
                for q in rsec.get("questions", []):
                    out.append(("question", q.get("question", ""), span["media_ref"], order))
                    order += 1
                    if q.get("answer"):
                        out.append(("answer", q["answer"], span["media_ref"], order))
                        order += 1
    return out


def _as_dicts(cell) -> list[dict]:
    """Arrow array<struct> cell → list[dict] (None-safe)."""
    if cell is None:
        return []
    return [dict(el) for el in cell]


_OUT_COLS = ["doc_id", "kind", "text", "media_ref", "order"]
SPAN_KINDS = ("text", "section", "checkbox", "question", "answer")


def _pack_docs(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
    """Doc rows → (doc_id, page_no=0, payload=pickled span list):
    the doc-header row of the sort-merge stream."""
    import pickle

    for pdf in batches:
        if not len(pdf):
            continue
        payloads = [
            pickle.dumps(_as_dicts(spans), protocol=5) for spans in pdf["spans"]
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "page_no": pd.Series([0] * len(pdf), dtype="int32"),
                "payload": payloads,
            }
        )


def _assemble_stream_factory(sections: list[dict]):
    """Streaming group-by-consecutive-doc assembly: rows arrive sorted
    (doc_id, page_no) within each partition — the header row (page_no=0,
    the doc's input spans) followed by its perception pages. No
    per-group pandas machinery: one Python loop over Arrow batches."""
    import pickle

    from pdf_parser_spark.sources import perception as P

    specs = P.binding_specs()  # lazy NativePerception in the Q/A layer
    # needs the same worker-side loader/OCR bindings as the decode stage

    def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        P.apply_binding_specs(specs)
        state = {"doc": None, "spans": None, "pages": {}}
        out_rows: list[tuple] = []

        def flush():
            if state["doc"] is not None and state["spans"] is not None:
                for kind, text, media_ref, order in extract_document(
                    state["spans"], state["pages"], sections
                ):
                    out_rows.append((state["doc"], kind, text, media_ref, order))

        for pdf in batches:
            for doc_id, page_no, payload in zip(
                pdf["doc_id"], pdf["page_no"], pdf["payload"]
            ):
                if doc_id != state["doc"]:
                    flush()
                    state["doc"] = doc_id
                    state["spans"] = None
                    state["pages"] = {}
                if page_no == 0:
                    state["spans"] = pickle.loads(bytes(payload))
                else:
                    state["pages"][int(page_no)] = pickle.loads(bytes(payload))
            if len(out_rows) >= 20000:
                yield pd.DataFrame(out_rows, columns=_OUT_COLS)
                out_rows = []
        flush()
        if out_rows:
            yield pd.DataFrame(out_rows, columns=_OUT_COLS)

    return run


def _fused_factory(sections: list[dict], decoder: str):
    """Fused per-doc pipeline: decode + geometry + flattening in one
    narrow pass (no shuffle). Used when decode cost ≪ transport cost."""
    from pdf_parser_spark.sources import perception as P
    from pdf_parser_spark.sources.decoder import decode_doc

    specs = P.binding_specs()  # dotted-path bindings travel to workers

    def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        P.apply_binding_specs(specs)
        out_rows: list[tuple] = []
        for pdf in batches:
            for doc_id, spans_cell in zip(pdf["doc_id"], pdf["spans"]):
                spans = _as_dicts(spans_cell)
                pages, envs = decode_doc(str(doc_id), spans, decoder)
                for kind, text, media_ref, order in extract_document(
                    spans, pages, sections, envs
                ):
                    out_rows.append((doc_id, kind, text, media_ref, order))
                if len(out_rows) >= 20000:
                    yield pd.DataFrame(out_rows, columns=_OUT_COLS)
                    out_rows = []
        if out_rows:
            yield pd.DataFrame(out_rows, columns=_OUT_COLS)

    return run


def extract_spans(
    docs: DataFrame,
    sections: list[dict] | None = None,
    decoder: str = "synthetic",
    parallelism: int | None = None,
    mode: str = "auto",
) -> DataFrame:
    """documents → flat output-span rows (doc_id, kind, text, media_ref, order).

    Two physical modes — a cost-based decode-placement choice (the
    UDF-stage analogue of Catalyst picking broadcast vs shuffle join):

    - ``mode="fused"``: decode + geometry + flattening in ONE narrow
      mapInPandas over doc rows, after one round-robin repartition that
      balances the doc rows across ``parallelism`` tasks (the plan's
      only exchange; no keyed shuffle). Correct choice when per-page
      decode cost is small relative to moving its output (synthetic
      decoder, pre-OCR'd tokens, cached perception). Skew bounded by
      the round-robin balance.
    - ``mode="paged"``: page-granular decode stage (round-robin
      balanced, so one 500-page doc fans out across tasks; the doc
      headers are round-robin repartitioned too), then ONE shuffle
      keyed by doc_id with opaque binary payloads, sorted
      within partitions, and a streaming sort-merge assembly (no
      per-group pandas machinery). Correct choice when decode is the
      dominant cost (real rasterize+OCR kernels at 1-3 s/page) and a
      multi-hundred-page doc must not serialize one task.
    - ``mode="auto"`` (default): pick by decoder — the native decoder's
      per-page cost (rasterize + OCR, seconds) dwarfs the payload
      shuffle, so it gets the paged plan; the synthetic decoder's
      near-zero decode cost makes fused strictly better.
    """
    if mode == "auto":
        mode = "paged" if decoder != "synthetic" else "fused"
    if sections is None:
        if decoder != "synthetic":
            # the synthetic form schema belongs to the synthetic decoder;
            # a native deployment must supply its own (the analogue of the
            # reference's sections.json input, extractor.py:948-951)
            raise ValueError("extract_spans(decoder='native') requires explicit sections")
        from pdf_parser_spark.fixtures.generator import form_schemas

        sections = form_schemas()

    spark = docs.sparkSession
    n_parts = parallelism or spark.sparkContext.defaultParallelism

    if mode == "fused":
        balanced = docs.repartition(n_parts)
        return balanced.mapInPandas(
            _fused_factory(sections, decoder), schema=OUT_SPANS_SCHEMA
        )

    pages = media_pages(docs)
    perc = perceive(pages, decoder=decoder, parallelism=parallelism)
    # repartition before packing: a documents table often arrives as few
    # large files; packing must not serialize on the file count
    headers = docs.repartition(n_parts).mapInPandas(
        _pack_docs, schema=PERCEPTION_TRANSPORT_SCHEMA
    )
    stream = (
        perc.unionByName(headers)
        .repartition(n_parts, F.col("doc_id"))
        .sortWithinPartitions("doc_id", "page_no")
    )
    return stream.mapInPandas(_assemble_stream_factory(sections), schema=OUT_SPANS_SCHEMA)


def lineage_metrics(docs: DataFrame, out_flat: DataFrame) -> DataFrame:
    """Per-doc lineage/metrics rows (replaces the reference's debug-image
    side effects, SURVEY.md §2.1 S8/S9): span counts by kind per doc,
    one conditional count per kind in a single aggregate (one exchange,
    where a pivot plans two)."""
    kind = F.col("kind")
    return (
        out_flat.groupBy("doc_id")
        .agg(*[F.count(F.when(kind == k, 1)).alias(k) for k in SPAN_KINDS])
        .join(docs.select("doc_id", F.size("spans").alias("n_input_spans")), "doc_id")
    )
