"""Per-document question/answer kernel (engine side).

Implements the reference's response layer (SURVEY.md §2: J4 J6 J7 J9,
W7-W9, F9-F16, K5, K6, A3-A5, A8-A9, P3 P4 P8 P10) for the grouped-map
pipeline. Independent implementation checked span-for-span against the
transcription oracle in ``pdf_parser_spark.oracle.response_oracle``;
reference provenance is cited there.

Perf posture: each page view (:class:`QAPage`) is a token index. Its
words carry their F7 key and the key's IL1 fold (``functions.text.
token_keys``, the reference re-normalizes per comparison), and a
:class:`~pdf_parser_spark.functions.text.KeyIndex` over the folds
blocks every question probe to the words whose fold starts with the
fold of the question's first word; the exact flex matchers verify only
those. The page view is built once per page, each crop view once per
crop band, and the next page's head lines once per page. Per-page cost
is what multiplies by 10^12 docs — this kernel is the throughput hot
path after decode.
"""

from __future__ import annotations

import re

from pdf_parser_spark import config as C
from pdf_parser_spark.sources.perception import SyntheticPerception
from pdf_parser_spark.functions.text import (
    KeyIndex,
    expected_fold,
    flex_startswith,
    folded_contains,
    folded_startswith,
    token_keys,
)

A_COL_GAP = 5
A_RIGHT_MARGIN = 20
A_ROW_TOL = 12
A_LEFT_MARGIN = 30
A_CONT_MIN = 10
A_CONT_MAX = 50
SLIDE_OFFSETS = (4, 8, 12, 16, 20, 24, 28, 32, 36, 40, 44)
PROBE_BANDS = 2
_ZIP_RE = re.compile(r"^\d{5}(-\d{4})?$")


class QAPage:
    """Matcher and answer line views of one page's tokens, each built
    once; the answer view only when it is first read (crop and
    next-page views never read it). Matcher words carry their F7 key
    ``pn`` and its IL1 fold ``fp``; ``index`` blocks question probes on
    ``fp``."""

    __slots__ = ("tokens", "m_lines", "index", "_a_lines")

    def __init__(self, tokens: list[dict]):
        self.tokens = tokens
        self._a_lines = None
        m: dict[tuple, dict] = {}
        for t in tokens:
            word = str(t["text"]).strip()
            if not word:
                continue
            _, pn, _, fp = token_keys(word)
            tok = {"text": word, "x": int(t["x"]), "y": int(t["y"]),
                   "w": int(t["w"]), "h": int(t["h"]), "pn": pn, "fp": fp}
            key = (t["block"], t["par"], t["line"])
            ln = m.get(key)
            if ln is None:
                ln = m[key] = {"words": [], "y": tok["y"]}
            ln["words"].append(tok)
        self.m_lines = sorted(m.values(), key=lambda ln: ln["y"])
        for ln in self.m_lines:
            ln["words"].sort(key=lambda w: w["x"])
        self.index = line_index(self.m_lines)

    @property
    def a_lines(self) -> list[dict]:
        """Answer lines: every (block, par, line) group, blank-only ones
        included, words in emission order; ``h`` is the tallest of the
        group's first token and its words."""
        if self._a_lines is None:
            a: dict[tuple, dict] = {}
            for t in self.tokens:
                key = (t["block"], t["par"], t["line"])
                ln = a.get(key)
                if ln is None:
                    ln = a[key] = {"words": [], "y": int(t["y"]), "h": int(t["h"])}
                word = str(t["text"]).strip()
                if word:
                    ln["words"].append({"text": word, "x": int(t["x"])})
                    ln["h"] = max(ln["h"], int(t["h"]))
            self._a_lines = sorted(a.values(), key=lambda ln: ln["y"])
        return self._a_lines


def line_index(lines: list[dict]) -> KeyIndex:
    return KeyIndex([[w["fp"] for w in ln["words"]] for ln in lines])


def _seg(tokens: list[dict], count: int) -> dict:
    return {
        "line_y": int(min(t["y"] for t in tokens)),
        "start_x": tokens[0]["x"],
        "end_x": tokens[-1]["x"] + tokens[-1]["w"],
        "count": count,
        "tokens": [t["text"] for t in tokens],
    }


def _sw(expected: str, w: dict) -> bool:
    return folded_startswith(expected, w["pn"], w["fp"])


def _ct(expected: str, w: dict) -> bool:
    return folded_contains(expected, w["pn"], w["fp"])


def _full_matches_in_line(words: list[dict], q_words: list[str], q_full: str, starts: list[int]) -> list[dict]:
    """Same-line full matches from each of ``starts`` (the words that
    flex-start with q_words[0]; no other word can start a match)."""
    segs = []
    nq = len(q_words)
    for si in starts:
        if _sw(q_full, words[si]):
            segs.append(_seg([words[si]], nq))
            continue
        run = 0
        k = si
        while run < nq:
            if k >= len(words):
                run = 0
                break
            ok = _sw(q_words[run], words[k]) if run == 0 else _ct(q_words[run], words[k])
            if not ok:
                run = 0
                break
            run += 1
            k += 1
        if run == nq:
            segs.append(_seg(words[si : si + run], run))
    return segs


def _best_run_in_line(words: list[dict], q_words: list[str], q_full: str, starts: list[int]):
    best_start, best_run = None, 0
    for si in starts:
        if _sw(q_full, words[si]):
            return si, len(q_words)
        run = 0
        k = si
        while k < len(words) and run < len(q_words):
            ok = _sw(q_words[run], words[k]) if run == 0 else _ct(q_words[run], words[k])
            if not ok:
                break
            run += 1
            k += 1
        if run > best_run:
            best_run, best_start = run, si
        if run == len(q_words):
            break
    return best_start, best_run


def _multiline_hit(lines: list[dict], q_words: list[str], q_full: str, starts: dict[int, list[int]]):
    """One wrapped-question hit, starting on one of the lines in
    ``starts`` (line → words that flex-start with q_words[0])."""
    x_tol, max_ahead = C.LABEL_MULTILINE_BASE_X_TOLERANCE, C.LABEL_MULTILINE_MAX_LOOKAHEAD
    for i, line_starts in starts.items():
        line = lines[i]
        words = line["words"]
        start_idx, run = _best_run_in_line(words, q_words, q_full, line_starts)
        if run == 0:
            continue
        start_x, start_y = words[start_idx]["x"], words[start_idx]["y"]
        seg0_toks = words[start_idx : start_idx + run]
        last = words[min(start_idx + max(0, run - 1), len(words) - 1)]
        segments = [{
            "line_y": int(min(t["y"] for t in seg0_toks) if run > 0 else line["y"]),
            "start_x": start_x,
            "end_x": last["x"] + last["w"],
            "count": run,
            "tokens": [t["text"] for t in seg0_toks],
        }]
        x_ref, lbl_at, cur, ahead = start_x, run, i, 0
        while lbl_at < len(q_words) and ahead < max_ahead:
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
            want = q_words[lbl_at]
            best_run2, best_toks = 0, None
            for li in sibs:
                toks = lines[li]["words"]
                if not toks:
                    continue
                near = [k for k, t in enumerate(toks) if abs(t["x"] - x_ref) <= x_tol]
                cands = (
                    [k for k in near if _sw(want, toks[k])]
                    or [k for k, t in enumerate(toks) if _sw(want, t)]
                    or [k for k in near if _ct(want, toks[k])]
                )
                if not cands:
                    continue
                line_best, line_start = 0, None
                for ci in cands:
                    run2 = 0
                    k2 = ci
                    while k2 < len(toks) and lbl_at + run2 < len(q_words):
                        ok2 = (
                            _sw(q_words[lbl_at + run2], toks[k2])
                            if run2 == 0
                            else _ct(q_words[lbl_at + run2], toks[k2])
                        )
                        if not ok2:
                            break
                        run2 += 1
                        k2 += 1
                    if run2 > line_best:
                        line_best, line_start = run2, ci
                if line_best > best_run2:
                    best_run2 = line_best
                    best_toks = toks[line_start : line_start + line_best]
            if not best_run2 or best_toks is None:
                break
            segments.append(_seg(best_toks, best_run2))
            lbl_at += best_run2
            # advance cur to the sibling line the tokens came from
            # (identity, not equality — equal-looking tokens may exist)
            cur = next(
                li for li in sibs
                if any(t is best_toks[0] for t in lines[li]["words"])
            )
            ahead += 1
            x_ref = best_toks[0]["x"]
        if lbl_at == len(q_words):
            return {"x": int(start_x), "y": int(start_y), "segments": segments}
    return None


def _head_lines(next_tokens: list[dict], img_h: int, k: int) -> list[dict]:
    shifted = [dict(t, y=t["y"] + img_h) for t in next_tokens if str(t["text"]).strip()]
    if not shifted:
        return []
    view = QAPage(shifted)
    kept, groups, i = [], 0, 0
    lines = view.m_lines
    while i < len(lines) and groups < max(0, k):
        gy = lines[i]["y"]
        while i < len(lines) and lines[i]["y"] == gy:
            kept.append(lines[i])
            i += 1
        groups += 1
    return kept


def find_question_hits(
    lines: list[dict], index: KeyIndex, questions: list[str]
) -> dict[str, list[dict]]:
    """Pass 1 (all same-line full matches, deduped by start) + pass 2
    (one multiline hit) per unique question text. ``index`` blocks on
    the words' folds: every hit starts at a word that flex-starts with
    the first question word, so only those words are scanned."""
    results: dict[str, list[dict]] = {}
    seen_q: set[str] = set()
    for q in questions:
        if q in seen_q:
            continue
        seen_q.add(q)
        q_words = [w for w in q.split() if w]
        if not q_words:
            continue
        q_full = " ".join(q_words)
        first = q_words[0]
        starts: dict[int, list[int]] = {}
        for li, cands in index.find(expected_fold(first), prefix=True).items():
            words = lines[li]["words"]
            ok = [k for k in cands if flex_startswith(first, words[k]["pn"])]
            if ok:
                starts[li] = ok
        if not starts:
            continue
        hits = []
        seen_starts = set()
        for li, line_starts in starts.items():
            for seg in _full_matches_in_line(lines[li]["words"], q_words, q_full, line_starts):
                key = (int(seg["start_x"]), int(seg["line_y"]))
                if key in seen_starts:
                    continue
                seen_starts.add(key)
                hits.append({"x": key[0], "y": key[1], "segments": [seg]})
        ml = _multiline_hit(lines, q_words, q_full, starts)
        if ml is not None and (ml["x"], ml["y"]) not in seen_starts:
            hits.append(ml)
        if hits:
            results[q] = hits
    return results


def _bands_from_regions(sections, regions, img_h):
    anchors = {
        s["section_name"]: regions[s["section_name"]]["y1"]
        for s in sections
        if regions.get(s["section_name"])
    }
    ordered = sorted(anchors.items(), key=lambda t: t[1])
    bands = {}
    for idx, (name, y1) in enumerate(ordered):
        next_b = ordered[idx + 1][1] - 1 if idx + 1 < len(ordered) else img_h
        y2 = regions.get(name, {}).get("y2")
        bands[name] = (y1, min(int(y2), next_b) if isinstance(y2, (int, float)) else next_b)
    return anchors, ordered, bands


def match_question_sections(
    tokens: list[dict],
    page: QAPage,
    sections: list[dict],
    regions: dict,
    next_page_tokens: list[dict] | None,
    img_w: int = C.PAGE_W,
    img_h: int = C.PAGE_H,
    env=None,
) -> list[dict]:
    if env is None:
        env = SyntheticPerception(tokens)
    anchors, ordered, bands = _bands_from_regions(sections, regions, img_h)
    # crop re-OCR views are deterministic per (y1c, y2c); questions in
    # one section share crop bounds, so memoize the built view
    crop_views: dict[tuple[int, int], QAPage] = {}

    def crop_view(y1c: int, y2c: int) -> QAPage:
        key = (y1c, y2c)
        view = crop_views.get(key)
        if view is None:
            view = QAPage(env.crop_tokens(0, y1c, img_w, y2c))
            crop_views[key] = view
        return view

    # the next page's head lines, joined to this page's lines, are the
    # last resort of every question still missing: build them once
    ext = None  # (lines, index)

    def ext_hits(q: str) -> list[dict]:
        nonlocal ext
        if ext is None:
            lines = page.m_lines + _head_lines(next_page_tokens, img_h, C.NEXT_PAGE_HEAD_LINES)
            ext = (lines, line_index(lines))
        return find_question_hits(*ext, [q]).get(q, [])

    out = []
    for sec in sections:
        name = sec["section_name"]
        qs = sec.get("questions") or []
        if not qs:
            continue
        qhits = find_question_hits(page.m_lines, page.index, qs)
        yband = bands.get(name)
        anchor_y = anchors.get(name)
        min_start = int(anchor_y) + C.ANCHOR_OFFSET_PX if anchor_y is not None else None

        def in_band(h):
            if not yband:
                return True
            return yband[0] <= h["y"] <= yband[1] and (min_start is None or h["y"] >= min_start)

        sec_hits = []
        claimed: dict[str, set] = {}
        for q in qs:
            hits = [h for h in qhits.get(q, []) if in_band(h)]
            if not hits and yband:
                y1c = max(0, max(int(yband[0]), min_start if min_start is not None else 0))
                y2c_primary = max(y1c + 1, int(min(img_h, yband[1])))

                def crop_hits(y2c):
                    view = crop_view(y1c, y2c)
                    found = find_question_hits(view.m_lines, view.index, [q]).get(q, [])
                    res = []
                    for h in found:
                        h["y"] += y1c
                        for seg in h["segments"]:
                            seg["line_y"] += y1c
                        if min_start is None or h["y"] >= min_start:
                            res.append(h)
                    return res

                hits = crop_hits(y2c_primary)
                if not hits and name in anchors:
                    idx = next(i for i, (n, _) in enumerate(ordered) if n == name)
                    next_b = ordered[idx + 1][1] - 1 if idx + 1 < len(ordered) else img_h
                    y2c_wide = max(y1c + 1, int(min(img_h, next_b)))
                    if y2c_wide > y2c_primary:
                        hits = crop_hits(y2c_wide)
            if not hits and next_page_tokens is not None:
                hits = [h for h in ext_hits(q) if in_band(h)]
            if not hits:
                continue
            taken = claimed.setdefault(q, set())
            for h in sorted(hits, key=lambda h: (h["y"], h["x"])):
                if (h["x"], h["y"]) in taken:
                    continue
                taken.add((h["x"], h["y"]))
                sec_hits.append(
                    {"question": q, "position": [h["x"], h["y"]], "segments": h["segments"]}
                )
                break
        if sec_hits:
            out.append({"section": name, "anchor_y": anchor_y, "questions": sec_hits})
    return out


def _is_yes_no(q_text: str) -> bool:
    low = (q_text or "").lower()
    return (
        ("would you" in low or "do you" in low or "are you" in low
         or "have you" in low or "yes" in low or "no" in low)
        and low.strip().endswith("?")
    )


def _seg_tokens_lower(q) -> list[str]:
    toks = []
    for seg in q.get("segments") or []:
        toks.extend(t.lower() for t in seg.get("tokens", []))
    return toks


def attach_answers(
    tokens: list[dict],
    page: QAPage,
    matches: list[dict],
    checkboxes: list[dict] | None,
    highlights: list[dict] | None,
    img_w: int = C.PAGE_W,
    img_h: int = C.PAGE_H,
    env=None,
) -> list[dict]:
    highlights = highlights or []
    if env is None:
        env = SyntheticPerception(tokens, highlights)
    line_list = page.a_lines

    def right_bound(qlist, cur):
        cx, cy = cur["position"]
        narrative = (
            "medical" in _seg_tokens_lower(cur) and "conditions" in _seg_tokens_lower(cur)
        )
        cands = [
            q["position"][0]
            for q in qlist
            if q is not cur
            and abs(q["position"][1] - cy) <= A_ROW_TOL
            and q["position"][0] > cx
        ]
        if cands and not narrative:
            return min(cands) - A_COL_GAP
        return img_w - A_RIGHT_MARGIN

    def collect(qx, qy, segs, rx, q_line_set):
        last_seg_y = qy
        if segs:
            seg_ys = [int(s["line_y"]) for s in segs if isinstance(s, dict)]
            if seg_ys:
                last_seg_y = max(seg_ys)
        y_start = last_seg_y + C.ANCHOR_OFFSET_PX
        y_bottom = y_start + C.ANCHOR_OFFSET_PX
        left = max(0, qx - A_LEFT_MARGIN)
        parts, cap_ys = [], []
        for ln in line_list:
            ly = ln["y"]
            if ly <= last_seg_y or ly < y_start or ly > y_bottom:
                continue
            toks = [w["text"] for w in ln["words"] if left <= w["x"] <= rx]
            if toks:
                parts.append(" ".join(toks))
                cap_ys.append(ly)
        if cap_ys:
            base = min(cap_ys)
            for ln2 in line_list:
                ly2 = ln2["y"]
                if ly2 <= base or ly2 <= base + A_CONT_MIN:
                    continue
                if ly2 > base + A_CONT_MAX:
                    break
                if ly2 in cap_ys:
                    continue
                toks2 = [w["text"] for w in ln2["words"] if left <= w["x"] <= rx]
                if not toks2:
                    continue
                if q_line_set and " ".join(toks2).strip().lower() in q_line_set:
                    continue
                parts.append(" ".join(toks2))
                cap_ys.append(ly2)
        if parts:
            cleaned = [" ".join(p.split()) for p in parts if p]
            dedup = []
            for cl in cleaned:
                if not dedup or dedup[-1] != cl:
                    dedup.append(cl)
            if len(dedup) == 2 and dedup[0] == dedup[1]:
                dedup = [dedup[0]]
            text = " ".join(dedup).strip()
        else:
            text = ""
        y_end = y_bottom
        if cap_ys:
            last_y = max(cap_ys)
            if last_y > y_bottom:
                last_ln = next((ln for ln in line_list if ln["y"] == last_y), None)
                y_end = last_y + max(int(last_ln["h"]) if last_ln else 0, 0)
        return text, y_start, y_end

    for sec in matches:
        qlist = sec.get("questions", [])
        q_line_set = set()
        for q in qlist:
            for seg in q.get("segments") or []:
                toks = [t.lower() for t in seg.get("tokens", []) if t]
                if toks:
                    q_line_set.add(" ".join(toks))
        for q in qlist:
            qx, qy = q["position"]
            rb = right_bound(qlist, q)
            text, y1, y2 = collect(qx, qy, q.get("segments"), rb, q_line_set)
            q["answer_window"] = {
                "x_start": max(0, qx - A_LEFT_MARGIN),
                "y_start": int(y1),
                "x_end": int(rb),
                "y_end": int(y2),
            }
            if text:
                q["answer"] = text
        # highlight fallback
        for q in qlist:
            if q.get("answer") or not q.get("answer_window"):
                continue
            if not _is_yes_no(q.get("question", "")):
                continue
            aw = q["answer_window"]
            rec = env.highlight_ocr(aw)
            if rec in ("Yes", "No"):
                q["answer"] = rec
                q["answer_inferred"] = False
                q["answer_method"] = "highlight_fallback"
                continue
            seg_ys = [
                s["line_y"] for s in (q.get("segments") or []) if isinstance(s.get("line_y"), (int, float))
            ]
            last_seg_y = max(seg_ys) if seg_ys else None
            band_h = aw["y_end"] - aw["y_start"]
            if last_seg_y is not None and band_h > 0:
                offs = sorted(set(SLIDE_OFFSETS) | {band_h})
                for off in offs:
                    y1 = int(last_seg_y + off)
                    if y1 + band_h > img_h:
                        break
                    rec = env.highlight_ocr(
                        {"x_start": aw["x_start"], "y_start": y1,
                         "x_end": aw["x_end"], "y_end": y1 + band_h},
                    )
                    if rec in ("Yes", "No"):
                        q["answer"] = rec
                        q["answer_inferred"] = False
                        q["answer_method"] = f"highlight_slide_{off}"
                        break
            if not q.get("answer"):
                for pi in range(1, PROBE_BANDS + 1):
                    rec = env.highlight_ocr(
                        {"x_start": aw["x_start"], "y_start": aw["y_start"] + pi * band_h,
                         "x_end": aw["x_end"], "y_end": aw["y_start"] + (pi + 1) * band_h},
                    )
                    if rec in ("Yes", "No"):
                        q["answer"] = rec
                        q["answer_inferred"] = False
                        q["answer_method"] = f"highlight_probe_{pi}"
                        break
        # in-section x_end trim (row tolerance x2)
        for q in qlist:
            aw = q.get("answer_window")
            if not aw:
                continue
            qx, q_end = aw["x_start"], aw["x_end"]
            qy = q["position"][1]
            min_end = q_end
            for other in qlist:
                if other is q:
                    continue
                ox, oy = other["position"]
                if ox <= qx:
                    continue
                if abs(oy - qy) <= A_ROW_TOL * 2:
                    cand = ox - A_COL_GAP
                    if qx <= cand < min_end:
                        min_end = cand
            if min_end < q_end:
                aw["x_end"] = max(qx, min_end)

    # global row-group x_end trim
    entries = [
        (q, int(q["position"][1]), int(q["answer_window"].get("x_start", q["position"][0])))
        for sec in matches
        for q in sec.get("questions", [])
        if q.get("answer_window") and q.get("position")
    ]
    entries.sort(key=lambda t: t[1])
    groups: list[list[tuple]] = []
    for e in entries:
        for g in groups:
            if abs(g[0][1] - e[1]) <= A_ROW_TOL * 2:
                g.append(e)
                break
        else:
            groups.append([e])
    for g in groups:
        g.sort(key=lambda t: t[2])
        for i in range(len(g) - 1):
            q_curr, _, x_curr = g[i]
            _, _, x_next = g[i + 1]
            aw = q_curr["answer_window"]
            if g[i + 1][0].get("answer_window") is None:
                continue
            if aw["x_end"] >= x_next:
                aw["x_end"] = max(aw.get("x_start", x_curr), x_next - A_COL_GAP)

    # strict pruning via crop re-OCR
    for sec in matches:
        for q in sec.get("questions", []):
            aw, ans = q.get("answer_window"), q.get("answer")
            if not aw or not ans:
                continue
            kept = [
                str(t["text"]).strip()
                for t in env.crop_tokens(
                    int(aw["x_start"]), int(aw["y_start"]),
                    int(aw["x_end"]), int(aw["y_end"]),
                )
                if str(t["text"]).strip()
            ]
            if not kept:
                continue
            removed = [t for t in ans.split() if t not in kept]
            new = " ".join(kept)
            degraded = (
                ("gmail" in ans.lower() and "qmail" in new.lower())
                or ("days" in ans.lower() and "davs" in new.lower())
            )
            if removed and not degraded:
                q["answer"] = new

    # checkbox-pair yes/no inference (reminder question)
    if checkboxes:
        for sec in matches:
            for q in sec.get("questions", []):
                if q.get("answer"):
                    continue
                flat = _seg_tokens_lower(q)
                if not flat:
                    continue
                key_hits = sum(
                    1 for kw in ("reminders", "automatic", "appointment", "messages")
                    if kw in flat
                )
                if key_hits < 2 or not (
                    "reminders" in flat or any(t.startswith("reminder") for t in flat)
                ):
                    continue
                seg_ys = [
                    s["line_y"] for s in (q.get("segments") or []) if s.get("line_y") is not None
                ]
                last_seg_y = max(seg_ys) if seg_ys else q["position"][1]
                nearby = sorted(
                    (cb for cb in checkboxes if last_seg_y - 20 <= cb["y"] <= last_seg_y + 70),
                    key=lambda c: c["x"],
                )
                pair, seen_x = [], []
                for cb in nearby:
                    if all(abs(cb["x"] - ex) >= 5 for ex in seen_x):
                        pair.append(cb)
                        seen_x.append(cb["x"])
                    if len(pair) == 2:
                        break
                if len(pair) != 2:
                    continue
                ticked = [i for i, cb in enumerate(pair) if cb["status"] == "ticked"]
                if len(ticked) == 1:
                    q["answer"] = "Yes" if ticked[0] == 0 else "No"
                    q["answer_inferred"] = True
                    q["answer_source"] = "checkbox"
                elif len(ticked) == 2:
                    q["answer"] = "Yes"
                    q["answer_inferred"] = True
                    q["answer_source"] = "checkbox"

    # follow-up inference
    for sec in matches:
        qs = sec.get("questions", [])
        for i, q in enumerate(qs):
            text = (q.get("question") or "").lower()
            if "appointment" in text and "reminder" in text and not q.get("answer"):
                if i + 1 < len(qs):
                    nq = qs[i + 1]
                    if nq.get("answer") and (nq.get("question") or "").lower().startswith("if yes"):
                        q["answer"] = "Yes"
                        q["answer_inferred"] = True
                        q["answer_source"] = "followup_inference"

    # zip sanitization
    for sec in matches:
        for q in sec.get("questions", []):
            qt = (q.get("question") or "").lower()
            ans = q.get("answer")
            if ans and "zip" in qt and "code" in qt:
                for tok in ans.split():
                    if _ZIP_RE.match(tok):
                        if tok != ans:
                            q["answer"] = tok
                        break
    return matches


def page_responses(
    tokens: list[dict],
    question_sections: list[dict],
    regions: dict,
    checkboxes: list[dict] | None = None,
    highlights: list[dict] | None = None,
    next_page_tokens: list[dict] | None = None,
    img_w: int = C.PAGE_W,
    img_h: int = C.PAGE_H,
    env=None,
) -> list[dict]:
    page = QAPage(tokens)
    matches = match_question_sections(
        tokens, page, question_sections, regions, next_page_tokens, img_w, img_h, env=env
    )
    return attach_answers(
        tokens, page, matches, checkboxes, highlights, img_w, img_h, env=env
    )
