"""Deterministic synthetic form-document generator (FIXTURES.md §1-§3, §6).

Generates, per (doc_id, page_no) and with no external data:

- the interleaved `documents` rows (doc_id, spans) per the driver's
  input_hint shape, and
- the synthetic *perception* tables (`ocr_tokens`, `checkbox_matches`)
  that stand in for the environment-heavy OCR / template-match kernels
  (the reference's geometry stack consumes only the OCR dict + match
  list — /root/reference/extractor.py:991-1122 — so injecting these
  exercises the entire geometric layer deterministically).

Everything derives from zlib.crc32 seeds of the (doc_id, page_no) key,
so the decode UDF on any executor regenerates the exact same perception
rows from a media_ref alone — modeling a deterministic rasterize+OCR
kernel without the native libs.

Layout cases covered (FIXTURES.md §6): checkbox row gaps around the
50 px clustering threshold, section growth stops at >100 px gaps,
missing labels, near-duplicate template hits within 5 px for NMS,
IL1 OCR confusions in headers/labels, wrapped multi-line labels, and
merged-token OCR.
"""

from __future__ import annotations

import random
import zlib

from pdf_parser_spark import config as C

# ---------------------------------------------------------------------------
# Form schema (structural analogue of the reference's sections.json:
# multi-word and single-word headers, labels with '/', labels with
# uppercase 'I' to exercise IL1-flex matching).
# ---------------------------------------------------------------------------

_FORM_SCHEMA = [
    {
        "section_rank": 0,
        "section_name": "PATIENT MEDICAL HISTORY",
        "labels": [
            "Diabetes",
            "Heart Disease",
            "High Blood Pressure",
            "Liver Disease",
            "Kidney Stones",
            "Asthma",
        ],
    },
    {
        "section_rank": 1,
        "section_name": "Exercise",
        "labels": ["Daily", "Weekly", "Occasionally/Never"],
    },
    {
        "section_rank": 2,
        "section_name": "SOCIAL HISTORY",
        "labels": ["Smoking", "Alcohol Use", "Recreational Drugs"],
    },
    {
        "section_rank": 3,
        "section_name": "ALLERGIES",
        "labels": ["Penicillin", "Sulfa Drugs", "Latex", "Iodine"],
    },
    {
        # questions-only section: same-row pairs (right-bound trims),
        # zip sanitization, yes/no reminder question with highlight /
        # checkbox-pair / follow-up inference fallbacks
        "section_rank": 4,
        "section_name": "CONTACT DETAILS",
        "questions": [
            "First Name",
            "Last Name",
            "Email Address",
            "Zip Code",
            "Would you like to receive automatic appointment reminders? "
            "Please reply yes or no to our messages.",
            "If yes, which provider do you prefer?",
        ],
    },
    {
        # duplicate questions in order (ordinal claiming, J9) + narrative
        # multi-line answers (continuation window W7)
        "section_rank": 5,
        "section_name": "FAMILY HISTORY",
        "questions": [
            "Relationship",
            "Medical Conditions",
            "Relationship",
            "Medical Conditions",
        ],
    },
]

_NOISE_WORDS = [
    "lorem", "ipsum", "dolor", "sit", "amet", "consectetur",
    "adipiscing", "elit", "sed", "tempor",
]

_TEXT_WORDS = [
    "patient", "intake", "form", "clinic", "visit", "date",
    "provider", "notes", "summary", "review",
]


# gender-specific schema variants (reference: sections.json vs
# female_sections.json / male_sections.json selected by first-page OCR,
# /root/reference/extractor.py:1200-1238)
_VARIANT_SECTIONS = {
    "female": {
        "section_rank": 6,
        "section_name": "PREGNANCY HISTORY",
        "labels": ["Currently Pregnant", "Prior Pregnancies"],
    },
    "male": {
        "section_rank": 6,
        "section_name": "PROSTATE SCREENING",
        "labels": ["PSA Test", "Digital Exam"],
    },
}


def _copy_sec(s: dict) -> dict:
    return dict(
        s,
        labels=list(s.get("labels") or []) or None,
        questions=list(s.get("questions") or []) or None,
    )


def form_schema() -> list[dict]:
    """The broadcastable form schema (female variant, back-compat)."""
    return form_schemas()["female"]


def form_schemas() -> dict[str, list[dict]]:
    """Both gender-variant schemas (broadcast to executors; the variant
    is chosen per doc from page-1 text — F15)."""
    return {
        v: [_copy_sec(s) for s in _FORM_SCHEMA] + [_copy_sec(_VARIANT_SECTIONS[v])]
        for v in ("female", "male")
    }


def doc_variant(doc_id: str) -> str:
    return "male" if _rng(doc_id, "gender").random() < 0.3 else "female"


# ---------------------------------------------------------------------------
# Perception environment model shared by oracle and engine: deterministic
# crop re-OCR and highlight-OCR stand-ins — the pure models live in
# pdf_parser_spark.sources.perception (the decoder-owned environment
# layer; round-1 ADVICE: the engine must not depend on fixture code).
# Re-exported here for the transcription oracle, which is test-only.
# ---------------------------------------------------------------------------

from pdf_parser_spark.sources.perception import (  # noqa: E402
    crop_token_model as crop_tokens,
    highlight_point_model as highlight_ocr,
)


def _rng(*key) -> random.Random:
    return random.Random(zlib.crc32(":".join(str(k) for k in key).encode()))


def doc_page_count(doc_id: str, skew: bool = False) -> int:
    r = _rng(doc_id, "pages")
    if skew and r.random() < 0.02:
        # heavy tail: multi-hundred-page docs (FIXTURES.md §1 skew profile)
        return r.randint(100, 500)
    return r.choices([1, 2, 3], weights=[0.5, 0.3, 0.2])[0]


def media_ref(doc_id: str, page_no: int) -> str:
    return f"media/{doc_id}/p{page_no}"


def _corrupt_il1(word: str, r: random.Random) -> str:
    """OCR-style confusion: uppercase 'I' rendered as 'l' or '1'."""
    if "I" not in word:
        return word
    idx = word.index("I")
    repl = r.choice(["l", "1"])
    return word[:idx] + repl + word[idx + 1 :]


def page_perception(doc_id: str, page_no: int) -> tuple[list[dict], list[dict], list[dict]]:
    """Deterministic (ocr_tokens, checkbox_matches, highlights) rows for one page.

    Token rows carry `tok_seq` (raw OCR emission order) and line identity
    (block, par, line). Match rows carry `seq` encoding the reference's
    match-list order: all 'ticked' hits in raster (y, x) order, then all
    'empty' hits in raster order (match_template scans row-major; ticked
    template is matched before empty — /root/reference/extractor.py:186-188).
    """
    r = _rng(doc_id, page_no, "layout")
    n_pages = doc_page_count(doc_id)
    variant = doc_variant(doc_id)
    schema = _FORM_SCHEMA + [_VARIANT_SECTIONS[variant]]
    # distribute sections across the doc's pages by rank
    page_sections = [
        s for s in schema if s["section_rank"] % n_pages == (page_no - 1) % n_pages
    ]

    # cross-page label continuation case (J5/W6): on some multi-page
    # docs, split "Sulfa Drugs" — "Sulfa" as the last line of the
    # ALLERGIES page, "Drugs" as the first line group of the next page;
    # the matcher must find it via the next-page head-lines fallback.
    # (Both pages derive the same decision deterministically.)
    allergies_page = (3 % n_pages) + 1
    xsplit = (
        n_pages >= 2
        and allergies_page < n_pages
        and _rng(doc_id, "xsplit").random() < 0.5
    )

    tokens: list[dict] = []
    ticked: list[dict] = []
    empty: list[dict] = []
    line_ctr = 0

    def emit_line(words_xy: list[tuple[str, int]], y: int):
        nonlocal line_ctr
        line_ctr += 1
        for word, x in words_xy:
            tokens.append(
                {
                    "text": word,
                    "x": x,
                    "y": y,
                    "w": 14 * max(1, len(word)),
                    "h": 28,
                    "block": line_ctr,
                    "par": 1,
                    "line": 1,
                }
            )

    def emit_checkbox(x: int, y: int, status: str, score: float):
        row = {"x": x, "y": y, "w": C.TEMPLATE_W, "h": C.TEMPLATE_H,
               "status": status, "score": round(score, 2)}
        (ticked if status == "ticked" else empty).append(row)

    highlights: list[dict] = []

    def emit_question_line(qtext: str, x: int, ly: int) -> None:
        wx = x
        words_xy = []
        for w in qtext.split():
            words_xy.append((w, wx))
            wx += 14 * max(1, len(w)) + 10
        emit_line(words_xy, ly)

    def emit_question_section(sec: dict, y0: int) -> int:
        """Question-section layout hitting the answer-geometry cases
        (FIXTURES.md §6): same-row pairs with right-bound trims, a token
        bleeding past the bound (strict-pruning case), zip sanitization,
        a wrapped yes/no question with highlight / checkbox-pair /
        follow-up fallbacks, duplicate questions, narrative multi-line
        answers with W7 continuation."""
        y = y0
        if sec["section_name"] == "CONTACT DETAILS":
            # row 1: same-row pair (Δy=0 → right bound = next q x - 5)
            emit_question_line("First Name", 150, y)
            emit_question_line("Last Name", 1300, y)
            emit_line([("John", 160)], y + 45)
            if r.random() < 0.5:
                # token bleeding past First Name's right bound (x=1200,
                # w=168 → extends past 1295): captured by the x-left
                # window test, removed by strict-pruning crop re-OCR
                emit_line([("bleedingtoken", 1200)], y + 46)
            emit_line([("Smith", 1310), ("Jr", 1400)], y + 44)
            y += 140
            # row 2: near-row pair (Δy=18: outside the 12px row tolerance,
            # inside the 24px trim tolerance → page-width bound first,
            # second-pass x_end trim after)
            emit_question_line("Email Address", 150, y)
            emit_question_line("Zip Code", 1300, y + 18)
            emit_line([("user@gmail.com", 160)], y + 45)
            emit_line([("12345-6789", 1310), ("leak@mail.com", 1480)], y + 63)
            y += 160
            # wrapped yes/no reminder question (multiline segments)
            emit_question_line("Would you like to receive automatic appointment", 150, y)
            emit_question_line("reminders? Please reply yes or no to our messages.", 155, y + 32)
            last_seg_y = y + 32
            variant = r.random()
            if variant < 0.25:
                # (a) direct text answer in the fixed band
                emit_line([("Yes" if r.random() < 0.6 else "No", 160)], last_seg_y + 45)
            elif variant < 0.5:
                # (c) checkbox pair in the inference band [last_seg_y-20, +70]
                cb_y = last_seg_y + 25 + r.randint(0, 20)
                left_ticked = r.random() < 0.5
                emit_checkbox(160, cb_y, "ticked" if left_ticked else "empty",
                              r.uniform(0.7, 0.95))
                emit_checkbox(260, cb_y, "empty" if left_ticked else "ticked",
                              r.uniform(0.7, 0.95))
            y = last_seg_y + 170
            # follow-up provider question ("If yes…?" is a yes/no-looking
            # question): (b) sometimes unanswered-with-highlight →
            # exercises base/slide/probe highlight recovery, and its
            # recovered answer feeds the follow-up inference for the
            # reminder question; otherwise a plain text answer
            emit_question_line("If yes, which provider do you prefer?", 150, y)
            pv = r.random()
            if pv < 0.4:
                # highlight at base / slide / probe distance below the
                # question line (base band = [y+40, y+80] ±12 pad)
                hl_dy = r.choice([50, 20, 130])
                highlights.append(
                    {"x": 300, "y": y + hl_dy, "value": "Yes" if r.random() < 0.5 else "No"}
                )
            elif pv < 0.9:
                emit_line([("Dr", 160), ("Patel", 200)], y + 45)
            # else: provider unanswered → reminder may end with no answer
            y += 170
        else:  # FAMILY HISTORY
            for pair in range(2):
                emit_question_line("Relationship", 150, y)
                emit_question_line("Medical Conditions", 1300, y)
                emit_line([("Mother" if pair == 0 else "Father", 160)], y + 45)
                emit_line([("Diabetes", 1310), ("and", 1440), ("hypertension", 1500)], y + 45)
                if pair == 0:
                    # narrative continuation wrap: +40 below the first
                    # answer baseline — inside the W7 continuation
                    # window (10, 50] but BELOW the fixed band bottom,
                    # so the dynamic y_end extension must fire for the
                    # strict-pruning re-OCR to keep these tokens
                    emit_line([("diagnosed", 1310), ("early", 1460)], y + 45 + 40)
                y += 170
        return y + 40

    if page_no == 1:
        # gender marker line (far right of the anchor x-threshold so it
        # can never anchor a section); drives schema-variant selection
        marker = f"{variant.capitalize()} Patient Information"
        mx = 900
        mwords = []
        for w in marker.split():
            mwords.append((w, mx))
            mx += 14 * len(w) + 10
        emit_line(mwords, 120)

    if xsplit and page_no == allergies_page + 1:
        # continuation fragment: first line group of this page
        emit_line([("Drugs", 420)], 150)

    y = 200 + r.randint(0, 40)
    for sec in page_sections:
        # --- section header line (anchor must start within first 10% of
        # page width) ---
        hx = 80 + r.randint(0, 100)
        header_words = []
        x = hx
        for w in sec["section_name"].split():
            word = _corrupt_il1(w, r) if r.random() < 0.20 else w
            header_words.append((word, x))
            x += 14 * max(1, len(word)) + 12
        emit_line(header_words, y)
        y += 70 + r.randint(0, 10)

        if sec.get("questions"):
            y = emit_question_section(sec, y)
            continue

        # --- label rows (two columns) ---
        labels = list(sec["labels"])
        if xsplit and page_no == allergies_page and sec["section_name"] == "ALLERGIES":
            # split label emitted at the page bottom instead (below);
            # checkbox intentionally absent → resolved via the
            # next-page continuation path, assigned 'missing'
            labels.remove("Sulfa Drugs")
        i = 0
        while i < len(labels):
            row_labels = labels[i : i + 2]
            i += 2
            row_y = y
            for col, lbl in enumerate(row_labels):
                if r.random() < 0.15:
                    continue  # label absent on this doc -> 'missing'
                lx = 400 + 1000 * col
                cb_y = row_y + r.randint(-3, 3)
                emit_checkbox(lx - 70, cb_y,
                              "ticked" if r.random() < 0.5 else "empty",
                              r.uniform(0.6, 0.99))
                # near-duplicate template hit within the 5 px NMS radius
                if r.random() < 0.30:
                    emit_checkbox(lx - 70 + r.randint(1, 4), cb_y + r.randint(1, 4),
                                  "ticked" if r.random() < 0.5 else "empty",
                                  r.uniform(0.6, 0.99))
                words = lbl.split()
                wrap = len(words) > 1 and r.random() < 0.20
                if wrap:
                    # wrapped label: first word(s) on this line, remainder on
                    # the next line at the same x (within the 160 px
                    # multiline x-tolerance)
                    head, tail = words[:1], words[1:]
                else:
                    head, tail = words, []
                wx = lx
                line_words = []
                for w in head:
                    word = _corrupt_il1(w, r) if r.random() < 0.15 else w
                    line_words.append((word, wx))
                    wx += 14 * max(1, len(word)) + 10
                emit_line(line_words, row_y)
                if tail:
                    wx = lx + r.randint(0, 40)
                    cont_words = []
                    for w in tail:
                        cont_words.append((w, wx))
                        wx += 14 * max(1, len(w)) + 10
                    emit_line(cont_words, row_y + 32)
            # row spacing: usually inside the 50 px row-gap / 100 px section
            # growth thresholds; occasionally a big gap that stops section
            # growth (subsequent labels fall outside the region)
            y += 140 if r.random() < 0.12 else 90
        # noise line between sections (x > anchor threshold); ~20% of
        # noise words carry accents to exercise the NFKD normalization
        # path in both implementations
        if r.random() < 0.5:
            nx = 600 + r.randint(0, 800)
            nwords = []
            for w in r.sample(_NOISE_WORDS, r.randint(2, 4)):
                if r.random() < 0.2:
                    w = w.replace("o", "ó").replace("e", "é")
                nwords.append((w, nx))
                nx += 14 * len(w) + 10
            emit_line(nwords, y)
            y += 60
        y += 40 + r.randint(0, 30)

    if xsplit and page_no == allergies_page:
        # split-label head fragment at the very bottom of the page
        emit_line([("Sulfa", 400)], C.PAGE_H - 20)

    # assemble match seq: ticked (raster order) then empty (raster order)
    ticked.sort(key=lambda m: (m["y"], m["x"]))
    empty.sort(key=lambda m: (m["y"], m["x"]))
    matches = []
    for seq, m in enumerate(ticked + empty):
        matches.append(dict(m, seq=seq))
    for seq, t in enumerate(tokens):
        t["tok_seq"] = seq
    return tokens, matches, highlights


def doc_spans(doc_id: str, skew: bool = False) -> list[dict]:
    """Interleaved input spans for one document (input_hint shape)."""
    r = _rng(doc_id, "spans")
    n_pages = doc_page_count(doc_id, skew)
    spans = []
    off = 0

    def text_span(text: str):
        nonlocal off
        spans.append({"kind": "text", "text": text, "media_ref": "", "offset": off})
        off += 1

    text_span(" ".join(r.sample(_TEXT_WORDS, 4)) + f" {doc_id}")
    for p in range(1, n_pages + 1):
        if r.random() < 0.3:
            text_span(" ".join(r.sample(_TEXT_WORDS, 3)))
        spans.append(
            {"kind": "pdf_page", "text": "", "media_ref": media_ref(doc_id, p), "offset": off}
        )
        off += 1
    return spans


def write_fixture_tables(out_dir: str, n_docs: int, skew: bool = False) -> list[str]:
    """Write documents / ocr_tokens / checkbox_matches parquet via pyarrow.

    Returns the list of doc_ids written. Uses plain pandas+pyarrow (no
    Spark) so tests and bench setup stay cheap.
    """
    import os

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    doc_ids = [f"doc_{i:08d}" for i in range(n_docs)]

    docs = pd.DataFrame({"doc_id": doc_ids,
                         "spans": [doc_spans(d, skew) for d in doc_ids]})
    docs.to_parquet(os.path.join(out_dir, "documents.parquet"), index=False, row_group_size=500)

    tok_rows, match_rows, hl_rows = [], [], []
    for d in doc_ids:
        for p in range(1, doc_page_count(d, skew) + 1):
            toks, matches, highlights = page_perception(d, p)
            for t in toks:
                tok_rows.append(dict(t, doc_id=d, page_no=p))
            for m in matches:
                match_rows.append(dict(m, doc_id=d, page_no=p))
            for hl in highlights:
                hl_rows.append(dict(hl, doc_id=d, page_no=p))
    pd.DataFrame(tok_rows).to_parquet(os.path.join(out_dir, "ocr_tokens.parquet"), index=False)
    pd.DataFrame(match_rows).to_parquet(
        os.path.join(out_dir, "checkbox_matches.parquet"), index=False
    )
    pd.DataFrame(hl_rows, columns=["doc_id", "page_no", "x", "y", "value"]).to_parquet(
        os.path.join(out_dir, "highlights.parquet"), index=False
    )
    return doc_ids
