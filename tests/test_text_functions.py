"""Unit tests for the scalar matcher library (SURVEY.md §2.8 F1-F8).

Expectations hand-derived from the reference semantics
(/root/reference/extractor.py:218-269)."""

import re

from hypothesis import given, settings, strategies as st

from pdf_parser_spark.functions import text as T


def test_normalize_text():
    assert T.normalize_text("Occasionally/Never") == "OCCASIONALLYNEVER"
    assert T.normalize_text("  High Blood-Pressure ") == "HIGHBLOODPRESSURE"
    assert T.normalize_text("123abc456") == "ABC"
    assert T.normalize_text("***") == ""


def test_ocr_norm_preserve_punct():
    # keeps edge punctuation that F1 trims (Packs/Day fix)
    assert T.ocr_norm_preserve_punct_upper("Packs/Day:") == "PACKSDAY:"
    assert T.normalize_text("Packs/Day:") == "PACKSDAY"


def test_flex_equal_il1():
    # candidates are normalized (uppercased) strings, as in the pipeline;
    # at expected-'I' positions the raw forms 'l'/'1' survive upper() as 'L'/'1'
    assert T.flex_equal("Liver", "LIVER")
    assert T.flex_equal("Liver", "L1VER")
    assert T.flex_equal("Liver", "LlVER")
    assert not T.flex_equal("Liver", "LXVER")
    assert not T.flex_equal("Liver", "LIVE")
    # 'I' flexibility only applies at expected-'I' positions
    assert not T.flex_equal("Lever", "L1VER")


def test_flex_contains_startswith():
    assert T.flex_contains("ARE", "XAREX")
    assert T.flex_startswith("ARE", "AREYOU")
    assert not T.flex_startswith("ARE", "CAREYOU")
    assert T.flex_contains("IODINE", "X" + "10DINE".replace("0", "ODINE")[:0] + "1ODINEX")


def test_flex_regex_matches_python_form():
    cases = [
        ("Liver", "LIVER"), ("Liver", "L1VER"), ("Liver", "LLVER"),
        ("Liver", "LXVER"), ("Iodine", "1ODINE"), ("Iodine", "IODINE"),
        ("ARE", "AREYOU"), ("ARE", "CARE"),
    ]
    for expected, cand in cases:
        pat = T.flex_regex(expected, "both")
        assert bool(re.fullmatch(pat.strip("^$"), cand)) == T.flex_equal(expected, cand), (
            expected, cand,
        )
        pat_s = T.flex_regex(expected, "start")
        assert bool(re.match(pat_s, cand)) == T.flex_startswith(expected, cand)
        pat_c = T.flex_regex(expected, "none")
        assert bool(re.search(pat_c, cand)) == T.flex_contains(expected, cand)


# IL1 confusables (ASCII, dotless i, fullwidth L), a char whose upper
# case is two chars (ß), a combining mark, and the separators F3 drops
_FOLD_ALPHABET = ["I", "L", "l", "1", "i", "\u0131", "\uff2c", "\u00df", "\u0301", "/", "-", " ", "A", "s"]
_CONFUSE = {"I": "l", "l": "I", "1": "L", "L": "1", "i": "I", "\u0131": "I", "\u00df": "SS"}


@st.composite
def _needle_haystack(draw):
    """(expected, haystack) where expected is usually a confused copy
    of a slice of haystack, so flex matches are common."""
    chars = st.sampled_from(_FOLD_ALPHABET)
    h = "".join(draw(st.lists(chars, max_size=12)))
    if draw(st.integers(0, 3)) == 0:
        return "".join(draw(st.lists(chars, max_size=4))), h
    i = draw(st.integers(0, len(h)))
    j = draw(st.integers(i, len(h)))
    e = "".join(_CONFUSE.get(c, c) if draw(st.booleans()) else c for c in h[i:j])
    return e, h


@settings(max_examples=200, deadline=None)
@given(_needle_haystack())
def test_il1_fold_prefilter_is_superset(pair):
    """The token index's blocking keys never drop a flex match, and the
    folded matchers (fold prefilter, flex verify) equal F5/F6."""
    e, h = pair
    f, fh = T.il1_fold(T.expected_masked(e)[0]), T.il1_fold(h)
    assert f == T.expected_fold(e) and len(fh) == len(h)
    if T.flex_contains(e, h):
        assert f in fh
    if T.flex_startswith(e, h):
        assert fh.startswith(f)
    assert T.folded_contains(e, h, fh) == T.flex_contains(e, h)
    assert T.folded_startswith(e, h, fh) == T.flex_startswith(e, h)


def test_il1_fold_is_coarser_than_flex_equal():
    # the fold maps a lowercase or dotless i to 'I'; F4 accepts neither
    # for an expected 'I', so only the flex check may decide
    for c in ("i", "\u0131"):
        assert T.il1_fold(c) == "I" and not T.flex_equal("I", c)
    assert T.il1_fold("l1L\u00df") == "III\x00"


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.lists(st.text(alphabet="ILA", max_size=3), max_size=4), max_size=5),
    st.text(alphabet="ILA", max_size=2),
)
def test_key_index_find_equals_scan(rows, needle):
    idx = T.KeyIndex(rows)
    for prefix in (False, True):
        want = {}
        for r, keys in enumerate(rows):
            hits = [k for k, key in enumerate(keys) if (key.startswith(needle) if prefix else needle in key)]
            if hits:
                want[r] = hits
        got = idx.find(needle, prefix)
        assert got == want and list(got) == sorted(got)


def test_oracle_and_engine_normalizers_agree():
    from pdf_parser_spark.oracle import reference_oracle as O

    words = ["Occasionally/Never", "LIver", "  x-y ", "Päck", "AB1", ""]
    for w in words:
        assert T.normalize_text(w) == O.normalize_text(w)
        assert T.ocr_norm_preserve_punct_upper(w) == O.ocr_norm_preserve_punct_upper(w)
    exp, mask = O.build_expected_masked_upper("High Iodine/Intake")
    exp2, mask2 = T.expected_masked("High Iodine/Intake")
    assert exp == exp2 and set(mask) == set(mask2)


def test_detect_schema_variant():
    from pdf_parser_spark.functions.text import detect_schema_variant

    # "male patient information" is a substring of the female phrase —
    # index resolution must pick female (reference extractor.py:1226-1229)
    assert detect_schema_variant("header Female Patient Information x") == "female"
    assert detect_schema_variant("header male patient information x") == "male"
    assert detect_schema_variant("no keywords here") == "female"
    assert (
        detect_schema_variant("male patient information ... female patient information")
        == "male"
    )


def test_language_id_multi(spark):
    """Marker-based multi-language ID: each language wins on its own
    function words; ties break by fixed priority order (de, en, es,
    fr); no markers → 'und'. Crafted texts, both engines' semantics."""
    from pdf_parser_spark.operators.textstats import language_id_multi

    docs = spark.createDataFrame(
        [
            ("d_en", "the cat sat on the mat and it is happy"),
            ("d_de", "der hund ist nicht mit der katze und der maus"),
            ("d_es", "el perro y el gato que juegan con una pelota"),
            ("d_fr", "le chien et le chat qui jouent dans le jardin pour rire"),
            ("d_tie", "the der"),       # en 1, de 1 → de (priority order)
            ("d_und", "zzz qqq xyzzy"),
            ("d_empty", ""),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in language_id_multi(docs, "doc_id", "text").collect()}
    assert rows["d_en"]["lang"] == "en" and rows["d_en"]["s_en"] == 6
    assert rows["d_de"]["lang"] == "de" and rows["d_de"]["s_de"] >= 6
    assert rows["d_es"]["lang"] == "es"
    assert rows["d_fr"]["lang"] == "fr"
    assert rows["d_tie"]["lang"] == "de"
    assert rows["d_und"]["lang"] == "und"
    assert rows["d_empty"]["lang"] == "und"


def test_quality_filter_cascade(spark):
    """Every cascade branch fires on its crafted document, and the
    FIRST failing rule (QUALITY_FILTER_ORDER) names the reason when
    several rules fail at once."""
    from pdf_parser_spark.operators.textstats import quality_filter

    en = "the cat sat on the mat and it is a good day for all of us to be here now"  # ok: 20 tokens, stopword-rich, diverse
    docs = [
        ("ok", en),
        ("too_short", "the cat sat on the mat"),
        ("too_long", " ".join(["the word"] * 2600)),  # 5200 tokens; ALSO repetitive — too_long must win (earlier rule)
        ("word_len", " ".join(["the", "pneumonoultramicroscopicsilico", "electroencephalographically"] * 12)),  # mwl = 20 > 12
        ("low_stopword", " ".join(f"w{i}" for i in range(30))),  # zero stopwords, all distinct
        ("repetitive_token", "the " * 9 + " ".join(f"the w{i}" for i in range(12))),  # 'the' dominates but stop_ratio high
        # 9× 'big dog ran' + en: top bigram 9/46=0.196>0.18 but top token 9/47=0.191<=0.25
        ("repetitive_bigram", " ".join(["big dog ran"] * 9) + " " + en),
        # 5 distinct permutations of 8 words: distinct 8/40=0.2<0.3, top token 5/40=0.125,
        # every bigram appears once or twice (<=2/39=0.051)
        (
            "low_diversity",
            "the cat dog run sun sky sea fox "
            "cat the run dog sky sun fox sea "
            "dog run the cat sea fox sun sky "
            "run sun cat sky the sea fox dog "
            "sun dog sky the fox cat run sea",
        ),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["reason"], r["keep"])
        for r in quality_filter(df, "doc_id", "text").collect()
    }
    for expect, _ in docs:
        reason, keep = out[expect]
        assert reason == expect or (expect == "ok" and reason == "ok"), (
            f"doc crafted for {expect!r} classified {reason!r}"
        )
        assert keep == (1 if expect == "ok" else 0)


def test_quality_filter_matches_generated_oracle(spark):
    """Spark cascade ≡ the generated DuckDB SQL on the same rows —
    the same one-source-of-truth check the driver gate runs, over
    crafted edge docs instead of the corpus."""
    import duckdb
    import pandas as pd

    from pdf_parser_spark.operators.textstats import (
        quality_filter,
        quality_filter_oracle_sql,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(6)],
            "text": [
                "the cat sat on the mat and it is a good day for all of us to be here now",
                "tiny",
                "the " * 40,
                " ".join(f"unique{i}" for i in range(25)),
                " ".join(["the cat"] * 30),
                "the a an of to in and is it you that for on with as are this be or at extra",
            ],
        }
    )
    got = (
        quality_filter(spark.createDataFrame(pdf), "doc_id", "text")
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(
        quality_filter_oracle_sql("documents", "doc_id", "text")
    ).fetchdf()
    pd.testing.assert_frame_equal(
        got[["doc_id", "reason", "keep"]].reset_index(drop=True),
        want[["doc_id", "reason", "keep"]].reset_index(drop=True),
    )


def test_quality_filter_rejects_unknown_threshold(spark):
    import pytest

    from pdf_parser_spark.operators.textstats import quality_filter

    df = spark.createDataFrame([("d", "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="unknown quality_filter"):
        quality_filter(df, "doc_id", "text", min_tokenz=5)
