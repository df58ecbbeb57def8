"""Scalar text functions of the extraction engine (SURVEY.md §2.8).

Python forms, used inside the per-doc geometry kernels and the oracle.
The IL1-flex matchers F4-F6 are char-wise equivalent to the reference's
character loop (/root/reference/extractor.py:249-269): expected
uppercase 'I' also accepts 'L'/'l'/'1'; all other positions are
case-insensitive equality. ``flex_regex`` compiles the same match to an
anchored/unanchored regex, which the f4 driver gate applies with
``rlike`` over an uppercased column.

The per-doc kernels match through a per-page token index built from
the pieces here: ``token_keys`` (each token's F1/F7 keys and their
position-preserving IL1 folds), ``KeyIndex`` (blocking on those folds)
and ``folded_contains``/``folded_startswith`` (the exact flex check,
run only where the folds agree).

Reference provenance:
- normalize_text                  /root/reference/extractor.py:218-225
- clean_normalized_sequence       reference extractor.py:227-233
- build_expected_masked_upper     /root/reference/extractor.py:237-247
- flex equal/contains/startswith  /root/reference/extractor.py:249-269
- ocr_norm_preserve_punct_upper   /root/reference/response_extractor.py:348-363
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache


def nfkd_strip_controls(text: str) -> str:
    # NFKD is the identity on ASCII, and a printable string holds no
    # category-C character: the common OCR token takes neither pass
    t = text if text.isascii() else unicodedata.normalize("NFKD", text)
    if t.isprintable():
        return t
    return "".join(c for c in t if unicodedata.category(c)[0] != "C")


_ALPHA_SPAN = re.compile(r"[a-zA-Z](?:.*[a-zA-Z])?", re.S)


def normalize_text(text: str) -> str:
    """F1: NFKD → strip controls → drop '/',' ','-' → trim non-alpha ends → upper."""
    t = nfkd_strip_controls(text)
    t = t.replace("/", "").replace(" ", "").replace("-", "")
    m = _ALPHA_SPAN.search(t)
    return m.group().upper() if m else ""


def ocr_norm_preserve_punct_upper(text: str) -> str:
    """F7: like F1 but without the alpha edge-trim."""
    t = nfkd_strip_controls(text)
    return t.replace("/", "").replace(" ", "").replace("-", "").upper()


def clean_normalized_sequence(normalized: list[str]) -> str:
    """F2 over words already F1-normalized: concat, re-NFKD'd, spaces
    dropped."""
    return nfkd_strip_controls("".join(normalized)).replace(" ", "")


@lru_cache(maxsize=4096)
def expected_masked(text: str) -> tuple[str, frozenset[int]]:
    """F3: normalized expected string + positions of uppercase 'I'."""
    t = nfkd_strip_controls(text)
    t = t.replace("/", "").replace(" ", "").replace("-", "").upper()
    return t, frozenset(i for i, ch in enumerate(t) if ch == "I")


class _FoldTable(dict):
    """code point → its IL1 fold, filled on first sight."""

    def __missing__(self, cp: int) -> str:
        u = chr(cp).upper()
        v = "\x00" if len(u) != 1 else ("I" if u in "L1" else u)
        self[cp] = v
        return v


_FOLD = _FoldTable()


def il1_fold(text: str) -> str:
    """Position-preserving IL1 fold, the blocking key of the flex
    matchers: per char, upper-case, map 'L' and '1' to 'I', and map a
    char whose upper case is not exactly one char to NUL (it can match
    no expected char). A flex match implies a fold match:
    ``flex_contains(e, h)`` ⇒ ``expected_fold(e) in il1_fold(h)`` and
    ``flex_startswith(e, h)`` ⇒ ``il1_fold(h).startswith(expected_fold(e))``
    (not conversely: the fold also maps 'i' to 'I', which ``flex_equal``
    rejects), so the fold only prunes and the flex check decides."""
    if text.isascii():
        return text.upper().replace("L", "I").replace("1", "I")
    return text.translate(_FOLD)


@lru_cache(maxsize=65536)
def token_keys(text: str) -> tuple[str, str, str, str]:
    """A token's F1 and F7 keys and their IL1 folds, the per-token
    entries of the kernels' page token index. The matchers only read
    these keys, so this is the one memo on the token side: OCR
    vocabularies repeat across pages and documents (form labels and
    questions), so most tokens are a dict hit."""
    n = normalize_text(text)
    p = ocr_norm_preserve_punct_upper(text)
    return n, p, il1_fold(n), il1_fold(p)


@lru_cache(maxsize=4096)
def expected_fold(text: str) -> str:
    """IL1 fold of F3's expected string (upper case is idempotent per
    char, so this equals the fold of any candidate that flex-equals it)."""
    return il1_fold(expected_masked(text)[0])


@lru_cache(maxsize=4096)
def flex_regex(expected: str, anchor: str = "both") -> str:
    """Compile the expected string to an IL1-flex regex (F4-F6).

    Applied to an UPPERCASED candidate: 'I' positions → [IL1], other
    chars → literal. anchor: 'both' = F4 equality, 'none' = F5
    contains, 'start' = F6 startswith.
    """
    exp, _ = expected_masked(expected)
    body = "".join("[IL1]" if ch == "I" else re.escape(ch) for ch in exp)
    if anchor == "both":
        return f"^{body}$"
    if anchor == "start":
        return f"^{body}"
    return body


def flex_equal(expected: str, candidate: str) -> bool:
    """F4 on a raw (pre-normalized) candidate string."""
    exp, mask = expected_masked(expected)
    if candidate == exp:  # each char of exp is its own upper case
        return True
    if len(exp) != len(candidate):
        return False
    for i, (e, c) in enumerate(zip(exp, candidate)):
        if i in mask and e == "I":
            if c not in ("I", "L", "l", "1"):
                return False
        elif e != c.upper():
            return False
    return True


def flex_contains(expected: str, haystack: str) -> bool:
    """F5: any substring of haystack flex-equals expected."""
    exp, _ = expected_masked(expected)
    m = len(exp)
    if m == 0:
        return True
    return any(flex_equal(expected, haystack[i : i + m]) for i in range(len(haystack) - m + 1))


def flex_startswith(expected: str, haystack: str) -> bool:
    """F6: prefix flex-equality."""
    exp, _ = expected_masked(expected)
    m = len(exp)
    if m == 0:
        return True
    return len(haystack) >= m and flex_equal(expected, haystack[:m])


def folded_contains(expected: str, haystack: str, folded: str) -> bool:
    """F5 on a haystack whose IL1 fold is ``folded``: F4 runs only at
    the offsets where the folds agree, the only ones where it can hold
    (the fold keeps positions)."""
    f = expected_fold(expected)
    i = folded.find(f)
    while i >= 0:
        if flex_equal(expected, haystack[i : i + len(f)]):
            return True
        i = folded.find(f, i + 1)
    return False


def folded_startswith(expected: str, haystack: str, folded: str) -> bool:
    """F6 on a haystack whose IL1 fold is ``folded``."""
    return folded.startswith(expected_fold(expected)) and flex_startswith(expected, haystack)


# ---------------------------------------------------------------------------
# Blocking index over per-word keys (the kernels' probe prefilter)
# ---------------------------------------------------------------------------

# separators: never in a key, since keys are normalized, control-free text
_RS, _US = "\x1e", "\x1f"


class KeyIndex:
    """Blocking index over the keys of a list of rows of words (a page's
    lines, or one row of tokens): one string holding every row behind a
    row separator and every key behind a word separator, so one
    ``str.find`` loop per probe yields the only words that can match,
    instead of a flex call per word."""

    __slots__ = ("rows", "text")

    def __init__(self, rows: list[list[str]]):
        self.rows = rows
        self.text = "".join([_RS + _US + _US.join(keys) if keys else _RS for keys in rows])

    def find(self, needle: str, prefix: bool = False) -> dict[int, list[int]]:
        """row → ascending word positions whose key contains ``needle``
        (starts with it, when ``prefix``); rows in ascending order. An
        empty needle matches every word, as an empty flex pattern does."""
        if not needle:
            return {r: list(range(len(keys))) for r, keys in enumerate(self.rows) if keys}
        text = self.text
        pat = _US + needle if prefix else needle
        out: dict[int, list[int]] = {}
        row, counted = -1, 0
        i = text.find(pat)
        while i >= 0:
            rs = text.rfind(_RS, 0, i)
            row += text.count(_RS, counted, rs + 1)
            counted = rs + 1
            out.setdefault(row, []).append(text.count(_US, rs, i + prefix) - 1)
            nxt = i + 1 if prefix else text.find(_US, i)  # next word
            if nxt < 0:
                break
            i = text.find(pat, nxt)
        return out


def detect_schema_variant(page1_text: str) -> str:
    """F15 — gender keyword detect on first-page text (reference
    /root/reference/extractor.py:1216-1232): earliest keyword wins;
    note "male patient information" is a substring of the female
    phrase, so both-hit resolution by index is load-bearing; default
    female."""
    norm = page1_text.lower()
    female_hit = "female patient information" in norm
    male_hit = "male patient information" in norm
    if female_hit and not male_hit:
        return "female"
    if male_hit and not female_hit:
        return "male"
    if female_hit and male_hit:
        f_idx = norm.find("female patient information")
        m_idx = norm.find("male patient information")
        return "female" if f_idx < m_idx else "male"
    return "female"
