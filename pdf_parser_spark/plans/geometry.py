"""Per-document geometry kernel (the grouped-map/UDF half of the engine).

Runs inside ``applyInPandas``/``mapInPandas`` over ONE document's
perception rows and produces its ordered output spans. The algorithms
re-express the reference's geometric passes (SURVEY.md §2.3-§2.7) with
exact greedy/sequential parity — these passes are order-defined
(used-box sets, claimed anchors, stable confidence sorts), so they must
run as deterministic per-group sequential code (SURVEY.md §7.4.1). Text
matching goes through a per-page token index (:class:`PageView`): the
IL1 fold of each token blocks every probe to its candidate words, and
the exact flex matchers verify only those. Relational window/join forms
of the same operators live in
``pdf_parser_spark.operators`` and serve as the driver's oracle-checked
queries.

Reference provenance (behavior, not code):
- NMS match dedupe            /root/reference/extractor.py:155-181
- line construction           /root/reference/extractor.py:303-322
- label position matching     /root/reference/extractor.py:194-532
- section anchor + regions    /root/reference/extractor.py:534-829
- row clustering (y-gap 50)   /root/reference/extractor.py:834-861
- greedy label→box assignment /root/reference/extractor.py:863-945
- cross-page remaining state  /root/reference/extractor.py:978-1056
- span flattening             /root/reference/extractor.py:1118-1122 + SURVEY.md §7.2
"""

from __future__ import annotations

from functools import lru_cache

from pdf_parser_spark import config as C
from pdf_parser_spark.functions.text import (
    KeyIndex,
    clean_normalized_sequence,
    expected_fold,
    folded_contains,
    folded_startswith,
    il1_fold,
    normalize_text,
    token_keys,
)

# ---------------------------------------------------------------------------
# NMS dedupe — greedy by confidence desc (stable over emission order)
# against the kept set; coordinates compared as integers.
# ---------------------------------------------------------------------------


def nms_dedupe(matches: list[dict], max_dist: int = C.DEDUPE_MAX_DIST) -> list[dict]:
    ms = sorted(matches, key=lambda m: m["seq"])
    ms.sort(key=lambda m: -m["score"])
    kept: list[dict] = []
    kept_xy: list[tuple[int, int]] = []
    for m in ms:
        x, y = int(m["x"]), int(m["y"])
        if any(abs(kx - x) < max_dist and abs(ky - y) < max_dist for kx, ky in kept_xy):
            continue
        kept_xy.append((x, y))
        kept.append(m)
    kept.sort(key=lambda m: (m["y"], m["x"]))
    return kept


# ---------------------------------------------------------------------------
# Page token index: each token's normalized and IL1-folded keys are
# read once per page (``token_keys``; the reference re-normalizes every
# token at every comparison); every label and section probe goes
# through its blocking indexes, and the exact flex check verifies only
# the words they yield.
# ---------------------------------------------------------------------------


class PageView:
    """One page's token index. ``toks`` (the non-blank tokens) and
    ``norm`` (their F1 keys) keep emission order, for the exact label
    scan; ``lines`` hold the same tokens grouped by line, each with its
    words' F1 and F7 keys (``n``, ``p``) and their IL1 folds (``fn``,
    ``fp``). ``exact`` blocks on F1 keys in emission order,
    ``label_index`` on ``fn`` and ``section_index`` on ``fp``."""

    __slots__ = ("toks", "norm", "lines", "exact", "label_index", "section_index")

    def __init__(self, tokens: list[dict]):
        # blank-token filter (P6)
        self.toks = [t for t in tokens if str(t["text"]).strip()]
        keys = [token_keys(t["text"]) for t in self.toks]
        self.norm = [k[0] for k in keys]
        self.lines = build_lines(self.toks, keys)
        self.exact = KeyIndex([self.norm])
        self.label_index = KeyIndex([ln["fn"] for ln in self.lines])
        self.section_index = KeyIndex([ln["fp"] for ln in self.lines])


def build_lines(toks: list[dict], keys: list[tuple[str, str, str, str]]) -> list[dict]:
    """Group by (block, par, line) in first-seen order; line y = first
    member's y; stable-sort lines by y. Each line carries its words'
    keys (:func:`token_keys`) as ``n``, ``p``, ``fn``, ``fp``."""
    index: dict[tuple, dict] = {}
    lines: list[dict] = []
    for t, (n, p, fn, fp) in zip(toks, keys):
        key = (t["block"], t["par"], t["line"])
        ln = index.get(key)
        if ln is None:
            ln = {"words": [], "y": t["y"], "n": [], "p": [], "fn": [], "fp": []}
            index[key] = ln
            lines.append(ln)
        ln["words"].append(t)
        ln["n"].append(n)
        ln["p"].append(p)
        ln["fn"].append(fn)
        ln["fp"].append(fp)
    lines.sort(key=lambda ln: ln["y"])
    return lines


def next_page_head(next_tokens: list[dict], img_h: int, head_lines: int) -> list[dict]:
    """First K distinct-y line groups of the next page, y-shifted by the
    page height (cross-page continuation, J5/W6)."""
    toks = [dict(t, y=t["y"] + img_h) for t in next_tokens if str(t["text"]).strip()]
    if not toks:
        return []
    lines = build_lines(toks, [token_keys(t["text"]) for t in toks])
    kept: list[dict] = []
    groups = 0
    i = 0
    while i < len(lines) and groups < head_lines:
        gy = lines[i]["y"]
        while i < len(lines) and lines[i]["y"] == gy:
            kept.append(lines[i])
            i += 1
        groups += 1
    return kept


# ---------------------------------------------------------------------------
# Label position matching (exact window scan + multiline lookahead)
# ---------------------------------------------------------------------------


@lru_cache(maxsize=4096)
def _label_ends(label: str) -> tuple[str, str, int]:
    """F1 keys of a label's first and last words and its word count
    (schema side, so memoized)."""
    words = label.split()
    return normalize_text(words[0]), normalize_text(words[-1]), len(words)


def _scan_exact(page: PageView, label: str) -> list[tuple[int, int]]:
    first_n, last_n, max_len = _label_ends(label)
    toks, norm = page.toks, page.norm
    n = len(toks)
    hits: list[tuple[int, int]] = []
    for i in page.exact.find(first_n).get(0, ()):
        for j in range(i, min(i + max_len, n)):
            if last_n not in norm[j]:
                continue
            seq_clean = clean_normalized_sequence(norm[i : j + 1])
            if folded_contains(label, seq_clean, il1_fold(seq_clean)):
                hits.append((toks[i]["x"], toks[i]["y"]))
    return hits


def _match_run_in_line(line: dict, lbl_words: list[str], starts: list[int]) -> tuple[int | None, int]:
    """Longest consecutive flex-contains run of lbl_words from one of
    ``starts`` (the line's words that can match lbl_words[0]); returns
    (best_start_idx, run_len)."""
    n, fn = line["n"], line["fn"]
    best_start, best_run = None, 0
    for si in starts:
        run = 0
        k = si
        while k < len(n) and run < len(lbl_words) and folded_contains(lbl_words[run], n[k], fn[k]):
            run += 1
            k += 1
        if run > best_run:
            best_run, best_start = run, si
        if run == len(lbl_words):
            break
    return best_start, best_run


def _multiline_label(lines: list[dict], index: KeyIndex, lbl_words: list[str]) -> tuple[int, int] | None:
    """Wrapped-label matcher: start run on one line, continue the
    remaining words on up to 5 following lines within a 160px
    x-tolerance (preferred) or anywhere (fallback). Only the lines
    ``index`` finds a fold of lbl_words[0] in can start a run."""
    x_tol, max_ahead = C.LABEL_MULTILINE_BASE_X_TOLERANCE, C.LABEL_MULTILINE_MAX_LOOKAHEAD
    for i, starts in index.find(expected_fold(lbl_words[0])).items():
        words = lines[i]["words"]
        start_idx, run = _match_run_in_line(lines[i], lbl_words, starts)
        if run == 0 or start_idx is None:
            continue
        start_x, start_y = words[start_idx]["x"], words[start_idx]["y"]
        x_ref, lbl_at, cur = start_x, run, i
        ahead = 0
        while lbl_at < len(lbl_words) and ahead < max_ahead:
            if cur + 1 >= len(lines):
                break
            nxt_line = lines[cur + 1]
            nxt, n, fn = nxt_line["words"], nxt_line["n"], nxt_line["fn"]
            if not nxt:
                break
            want = lbl_words[lbl_at]
            hit = [k for k in range(len(nxt)) if folded_contains(want, n[k], fn[k])]
            cands = [k for k in hit if abs(nxt[k]["x"] - x_ref) <= x_tol] or hit
            if not cands:
                break
            best_run, best_ci = 0, None
            for ci in cands:
                run2 = 0
                k = ci
                while (
                    k < len(nxt)
                    and lbl_at + run2 < len(lbl_words)
                    and folded_contains(lbl_words[lbl_at + run2], n[k], fn[k])
                ):
                    run2 += 1
                    k += 1
                if run2 > best_run:
                    best_run, best_ci = run2, ci
            if best_run == 0:
                break
            lbl_at += best_run
            cur += 1
            ahead += 1
            x_ref = nxt[best_ci]["x"]
        if lbl_at == len(lbl_words):
            return (start_x, start_y)
    return None


def _multiline_with_skips(lines: list[dict], index: KeyIndex, lbl_words: list[str]) -> tuple[int, int] | None:
    """Leading-word OCR-noise fallback: retry dropping up to 4 leading
    words (reference extractor.py:504-510)."""
    for skip in range(min(5, len(lbl_words))):
        pos = _multiline_label(lines, index, lbl_words[skip:])
        if pos is not None:
            return pos
    return None


def find_label_positions(
    page: PageView,
    labels: list[str],
    next_page_tokens: list[dict] | None,
    img_h: int = C.PAGE_H,
) -> dict[str, list[tuple[int, int]]]:
    positions: dict[str, list[tuple[int, int]]] = {}
    for lbl in labels:
        hits = _scan_exact(page, lbl)
        if not hits:
            pos = _multiline_with_skips(page.lines, page.label_index, lbl.split())
            if pos is not None:
                hits = [pos]
        if hits:
            positions[lbl] = hits
    if next_page_tokens is not None:
        pending = [lbl for lbl in labels if not positions.get(lbl)]
        if pending:
            ext = page.lines + next_page_head(next_page_tokens, img_h, C.NEXT_PAGE_HEAD_LINES)
            ext_index = KeyIndex([ln["fn"] for ln in ext])
            for lbl in pending:
                pos = _multiline_with_skips(ext, ext_index, lbl.split())
                if pos is not None:
                    positions[lbl] = [pos]
    return positions


# ---------------------------------------------------------------------------
# Section anchors + regions
# ---------------------------------------------------------------------------


def _section_span_in_line(line: dict, name_words: list[str], starts: list[int]) -> tuple[int | None, int]:
    """Best (start_idx, matched_count) for a section header in one line,
    from one of ``starts`` (the words that can match name_words[0]): a
    token whose cleaned text starts with the full concatenated header
    counts as a complete match (merged-token OCR); otherwise walk
    word-by-word — first word prefix-flex, rest contains-flex."""
    full = " ".join(name_words)
    p, fp = line["p"], line["fp"]
    best_start, best_matched = None, 0
    for si in starts:
        if folded_startswith(full, p[si], fp[si]):
            return si, len(name_words)
        matched = 0
        k = si
        while k < len(p) and matched < len(name_words):
            ok = (
                folded_startswith(name_words[matched], p[k], fp[k])
                if matched == 0
                else folded_contains(name_words[matched], p[k], fp[k])
            )
            if not ok:
                break
            matched += 1
            k += 1
        if matched > best_matched:
            best_matched, best_start = matched, si
    return best_start, best_matched


def _section_continue(lines: list[dict], i0: int, start_idx: int, name_words: list[str], matched: int) -> int:
    """Continue a partially matched header onto following line groups
    (same-y sibling lines considered together), ≤5 lookaheads, x-tol
    preferred; returns total matched words."""
    x_tol, max_ahead = C.LABEL_MULTILINE_BASE_X_TOLERANCE, C.LABEL_MULTILINE_MAX_LOOKAHEAD
    cur, lbl_at = i0, matched
    x_ref = lines[i0]["words"][start_idx]["x"]
    ahead = 0
    while lbl_at < len(name_words) and ahead < max_ahead:
        j = cur + 1
        cur_y = lines[cur]["y"]
        while j < len(lines) and lines[j]["y"] <= cur_y:
            j += 1
        if j >= len(lines):
            break
        next_y = lines[j]["y"]
        sibs = []
        while j < len(lines) and lines[j]["y"] == next_y:
            sibs.append(j)
            j += 1
        want = name_words[lbl_at]
        best_run, best_li, best_ci = 0, None, None
        for li in sibs:
            toks, p, fp = lines[li]["words"], lines[li]["p"], lines[li]["fp"]
            if not toks:
                continue
            near = [k for k in range(len(toks)) if abs(toks[k]["x"] - x_ref) <= x_tol]
            cands = (
                [k for k in near if folded_startswith(want, p[k], fp[k])]
                or [k for k in range(len(toks)) if folded_startswith(want, p[k], fp[k])]
                or [k for k in near if folded_contains(want, p[k], fp[k])]
            )
            for ci in cands:
                run = 0
                k = ci
                while k < len(toks) and lbl_at + run < len(name_words):
                    ok = (
                        folded_startswith(name_words[lbl_at + run], p[k], fp[k])
                        if run == 0
                        else folded_contains(name_words[lbl_at + run], p[k], fp[k])
                    )
                    if not ok:
                        break
                    run += 1
                    k += 1
                if run > best_run:
                    best_run, best_li, best_ci = run, li, ci
        if not best_run or best_ci is None or best_li is None:
            break
        x_ref = lines[best_li]["words"][best_ci]["x"]
        lbl_at += best_run
        cur = best_li
        ahead += 1
    return lbl_at


def find_section_regions(
    page: PageView,
    sections: list[dict],
    checkboxes: list[dict],
    img_w: int = C.PAGE_W,
) -> dict[str, dict]:
    """Anchor each section header (claimed-anchor priority J8: earlier
    schema rank wins a y) then grow the region down over the checkbox-y
    chain while gaps stay ≤100px (W2), +50px bottom buffer. Only lines
    with a word whose fold starts with the first header word's fold
    can anchor."""
    x_threshold = int(C.ANCHOR_X_FRACTION * img_w)
    cb_ys = sorted(int(cb["y"]) for cb in checkboxes)
    regions: dict[str, dict] = {}
    claimed: set[int] = set()

    for sec in sections:
        name_words = [w for w in sec["section_name"].split() if w]
        if not name_words:
            continue
        best = None  # (matched, y, x) — max wins
        for i, starts in page.section_index.find(expected_fold(name_words[0]), prefix=True).items():
            words = page.lines[i]["words"]
            start_idx, matched = _section_span_in_line(page.lines[i], name_words, starts)
            if not matched or start_idx is None:
                continue
            sx, sy = int(words[start_idx]["x"]), int(words[start_idx]["y"])
            if sx > x_threshold or sy in claimed:
                continue
            total = _section_continue(page.lines, i, start_idx, name_words, matched)
            cand = (int(total), sy, sx)
            if best is None or cand > best:
                best = cand
            if total >= len(name_words):
                break
        if best is None:
            continue
        min_required = 1 if len(name_words) == 1 else 2
        if best[0] < min_required:
            continue
        anchor_y = best[1]
        claimed.add(anchor_y)

        # region growth: chained gap ≤100 over checkbox ys ≥ anchor
        y2 = anchor_y
        after = [y for y in cb_ys if y >= anchor_y]
        if after:
            y2 = after[-1]
            for a, b in zip(after, after[1:]):
                if b - a > C.SECTION_CB_MAX_GAP_PX:
                    y2 = a
                    break
        regions[sec["section_name"]] = {
            "x1": C.SECTION_X1,
            "y1": anchor_y,
            "x2": C.SECTION_X2,
            "y2": y2 + C.SECTION_BOTTOM_BUFFER_PX,
        }
    return regions


# ---------------------------------------------------------------------------
# Row clustering (W1) + greedy assignment (J3), in plain Python: a
# section holds a handful of boxes, too few for array calls to pay.
# ---------------------------------------------------------------------------


def cluster_rows(boxes: list[dict], gap: int = C.LABEL_ROW_GAP_PX) -> tuple[list[int], list[float]]:
    """Sessionize boxes by y-gap>50 in stable y order: returns (row_id
    per box, in input order; row centroid y per row)."""
    ys = [int(b["y"]) for b in boxes]
    row_id = [0] * len(ys)
    sums: list[int] = []
    counts: list[int] = []
    prev = None
    for i in sorted(range(len(ys)), key=ys.__getitem__):
        y = ys[i]
        if prev is None or y - prev > gap:
            sums.append(0)
            counts.append(0)
        row_id[i] = len(sums) - 1
        sums[-1] += y
        counts[-1] += 1
        prev = y
    return row_id, [s / c for s, c in zip(sums, counts)]


def assign_checkboxes(
    checkboxes: list[dict],
    sections: list[dict],
    label_positions: dict[str, list[tuple[int, int]]],
    regions: dict[str, dict],
) -> list[dict]:
    """Greedy one-to-one label→checkbox assignment per section (J3):
    nearest box by L1 distance (first box on ties), row-centroid
    Δy ≤ 60 constraint, used-box exclusion across sections; unmatched
    labels → 'missing'; sections with no real hit are pruned (P9)."""
    out: list[dict] = []
    used: set[int] = set()
    for sec in sections:
        name = sec["section_name"]
        region = regions.get(name)
        if region is None:
            continue
        y1_eff = region["y1"] + C.ANCHOR_OFFSET_PX
        sec_boxes = [
            (bi, b) for bi, b in enumerate(checkboxes) if region["y1"] <= b["y"] <= region["y2"]
        ]
        row_id, centroids = cluster_rows([b for _, b in sec_boxes])
        bxy = [(int(b["x"]), int(b["y"])) for _, b in sec_boxes]
        rows: list[dict] = []
        for lbl in sec.get("labels") or []:
            assigned = None
            for lx, ly in label_positions.get(lbl, []):
                if not (y1_eff <= ly <= region["y2"]):
                    continue
                if not bxy:
                    continue
                dist = [abs(by - ly) + abs(bx - lx) for bx, by in bxy]
                bi_local = dist.index(min(dist))
                if abs(centroids[row_id[bi_local]] - ly) > C.LABEL_CB_ASSIGN_MAX_DELTA_Y:
                    continue
                gi = sec_boxes[bi_local][0]
                if gi in used:
                    continue
                used.add(gi)
                b = sec_boxes[bi_local][1]
                assigned = {"label": lbl, "status": b["status"], "score": b["score"]}
                break
            rows.append(assigned or {"label": lbl, "status": "missing", "score": 0.0})
        if any(r["status"] != "missing" for r in rows):
            out.append({"section": name, "checkboxes": rows})
    return out
