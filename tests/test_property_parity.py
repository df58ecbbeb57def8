"""Property-based engine-vs-oracle parity (hypothesis): random
adversarial inputs outside the fixture generator's distribution —
token texts drawn from a colliding vocabulary (label words, prefixes,
IL1 confusables), arbitrary geometry, tie-heavy checkbox clusters.
Any divergence gets found and shrunk to a minimal counterexample."""

from hypothesis import given, settings, strategies as st

from pdf_parser_spark.oracle import reference_oracle as O
from pdf_parser_spark.plans import geometry as G
from pdf_parser_spark.plans.extract import extract_document

# vocabulary chosen to collide: real label words, their prefixes,
# IL1-confusable spellings, merged tokens, punctuation
VOCAB = [
    "Diabetes", "Heart", "Disease", "HeartDisease", "Hear", "Dis",
    "Liver", "L1ver", "Llver", "LIVERDISEASE", "Iodine", "1odine",
    "Daily", "Da1ly", "Exercise", "EXERCISE", "Exercis", "xExercise",
    "PATIENT", "MEDICAL", "HISTORY", "PATIENTMEDICAL", "Pat1ent",
    "First", "Name", "FirstName", "Relationship", "Relat1onship",
    "a", "I", "l", "1", "-", "/", "Sulfa", "Drugs", "Sulfa/Drugs",
    # non-ASCII IL1 confusables: dotless i, fullwidth L/I, a decomposing
    # dotted I, a combining mark, a two-char upper case (ß → SS)
    "L\u0131ver", "\uff2civer", "D\u0131abetes", "\u0130odine", "Da\uff29ly",
    "He\u0301art", "Exerci\u00dfe", "Re\u0131at\u0131onsh\u0131p",
]

SECTIONS = [
    {"section_rank": 0, "section_name": "PATIENT MEDICAL HISTORY",
     "labels": ["Diabetes", "Heart Disease", "Liver Disease"]},
    {"section_rank": 1, "section_name": "Exercise", "labels": ["Daily"]},
    {"section_rank": 2, "section_name": "FAMILY HISTORY",
     "questions": ["Relationship", "First Name", "Relationship"]},
]

token_st = st.fixed_dictionaries(
    {
        "text": st.sampled_from(VOCAB),
        "x": st.integers(0, 2400),
        "y": st.integers(0, 3290),
        "w": st.integers(5, 300),
        "h": st.integers(5, 60),
        "block": st.integers(1, 6),
        "par": st.integers(1, 2),
        "line": st.integers(1, 3),
    }
)

match_st = st.fixed_dictionaries(
    {
        "x": st.integers(0, 2000),
        "y": st.integers(0, 3290),
        "w": st.just(37),
        "h": st.just(37),
        "status": st.sampled_from(["ticked", "empty"]),
        # coarse scores force confidence ties → stable-order NMS matters
        "score": st.sampled_from([0.6, 0.75, 0.75, 0.9]),
    }
)


def _with_seq(tokens, matches):
    for i, t in enumerate(tokens):
        t["tok_seq"] = i
    for i, m in enumerate(matches):
        m["seq"] = i
    return tokens, matches


@settings(max_examples=120, deadline=None)
@given(st.lists(match_st, max_size=25))
def test_nms_property(matches):
    for i, m in enumerate(matches):
        m["seq"] = i
    a = G.nms_dedupe([dict(m) for m in matches])
    b = O.deduplicate_matches([dict(m) for m in matches])
    assert [(m["x"], m["y"], m["status"], m["score"]) for m in a] == [
        (m["x"], m["y"], m["status"], m["score"]) for m in b
    ]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(token_st, max_size=40),
    st.lists(match_st, max_size=12),
)
def test_page_geometry_property(tokens, matches):
    tokens, matches = _with_seq(tokens, matches)
    cbs_e = G.nms_dedupe([dict(m) for m in matches])
    cbs_o = O.deduplicate_matches([dict(m) for m in matches])
    page = G.PageView([dict(t) for t in tokens])
    labels = [lbl for s in SECTIONS for lbl in (s.get("labels") or [])]
    pos_e = G.find_label_positions(page, labels, None)
    pos_o = {k: v for k, v in O.get_label_positions([dict(t) for t in tokens], labels, None).items() if v}
    assert {k: list(map(tuple, v)) for k, v in pos_e.items()} == {
        k: list(map(tuple, v)) for k, v in pos_o.items()
    }
    reg_e = G.find_section_regions(page, SECTIONS, cbs_e)
    reg_o = O.detect_section_regions([dict(t) for t in tokens], SECTIONS, cbs_o)
    assert reg_e == reg_o
    label_secs = [s for s in SECTIONS if s.get("labels")]
    asg_e = G.assign_checkboxes(cbs_e, label_secs, pos_e, reg_e)
    asg_o = O.assign_checkboxes_sectionwise(cbs_o, label_secs, pos_o, reg_o)
    assert asg_e == asg_o


@settings(max_examples=40, deadline=None)
@given(
    st.lists(token_st, max_size=35),
    st.lists(match_st, max_size=10),
    st.lists(token_st, max_size=10),
)
def test_full_document_property(tokens, matches, tokens_p2):
    """Two-page document end-to-end (incl. the Q/A layer and cross-page
    paths) on arbitrary layouts."""
    tokens, matches = _with_seq(tokens, matches)
    tokens_p2, _ = _with_seq(tokens_p2, [])
    pages = {1: (tokens, matches, []), 2: (tokens_p2, [], [])}
    spans = [
        {"kind": "text", "text": "hdr", "media_ref": "", "offset": 0},
        {"kind": "pdf_page", "text": "", "media_ref": "m/p1", "offset": 1},
        {"kind": "pdf_page", "text": "", "media_ref": "m/p2", "offset": 2},
    ]

    def copy_pages():
        return {
            p: ([dict(t) for t in toks], [dict(m) for m in ms], list(hls))
            for p, (toks, ms, hls) in pages.items()
        }

    got = extract_document(spans, copy_pages(), SECTIONS)
    exp = O.extract_document_spans(spans, copy_pages(), SECTIONS)
    assert got == exp
