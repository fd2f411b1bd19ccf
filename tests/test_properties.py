"""Property-based tests (hypothesis) for the frozen text rules and the
Aho-Corasick automaton — these are pure functions, so properties run
without Spark."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from kbase_cdm_ontologies_spark.functions.aho import AhoCorasick, find_word_bounded
from kbase_cdm_ontologies_spark.functions.text_rules import (
    extract_text,
    normalize_surface,
)

_words = st.text(alphabet="abcdefghij", min_size=1, max_size=8)


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_extract_text_total_and_deterministic(data):
    """Never raises on arbitrary bytes; same input -> same output."""
    assert extract_text(data) == extract_text(data)


@given(st.text(max_size=500))
@settings(max_examples=200, deadline=None)
def test_extract_text_no_tags_or_blank_lines(s):
    out = extract_text(s.encode("utf-8"))
    assert "<script" not in out.lower()
    if out:
        for line in out.split("\n"):
            assert line == line.strip() and line != ""
    # idempotent-ish: re-extracting already-plain text keeps words
    assert extract_text(out.encode()) == extract_text(
        extract_text(out.encode()).encode()
    )


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_normalize_surface_idempotent(s):
    n = normalize_surface(s)
    assert normalize_surface(n) == n
    assert "  " not in n and n == n.strip()


@given(
    st.lists(_words, min_size=1, max_size=10, unique=True),
    st.lists(_words, min_size=0, max_size=40),
)
@settings(max_examples=150, deadline=None)
def test_aho_equals_regex(patterns, text_words):
    """Word-bounded Aho-Corasick == word-bounded regex on the same
    haystack (the property the mention oracle relies on)."""
    text = " ".join(text_words)
    ac = AhoCorasick(patterns)
    got = sorted(
        (patterns[pidx], start) for pidx, start in find_word_bounded(ac, text)
    )
    want = []
    for p in patterns:
        for m in re.finditer(
            r"(?<![a-z0-9])" + re.escape(p) + r"(?![a-z0-9])", text
        ):
            want.append((p, m.start()))
    assert got == sorted(want)


@given(
    st.lists(_words, min_size=1, max_size=10, unique=True),
    st.lists(_words, min_size=0, max_size=40),
)
@settings(max_examples=150, deadline=None)
def test_scanfind_equals_aho(patterns, text_words):
    """ScanFind (small-dict C-speed fast path) must emit exactly the
    AhoCorasick occurrence SET — overlapping and nested included."""
    from kbase_cdm_ontologies_spark.functions.aho import ScanFind

    text = " ".join(text_words)
    ac = AhoCorasick(patterns)
    sf = ScanFind(patterns)
    assert sorted(ac.find(text)) == sorted(sf.find(text))


def test_scanfind_overlapping_nested():
    from kbase_cdm_ontologies_spark.functions.aho import ScanFind

    patterns = ["aa", "aaa", "machine", "machine learning", "learning"]
    text = "aaaa machine learning"
    ac, sf = AhoCorasick(patterns), ScanFind(patterns)
    got_ac, got_sf = sorted(ac.find(text)), sorted(sf.find(text))
    assert got_ac == got_sf
    assert (0, 0) in got_sf and (0, 1) in got_sf and (0, 2) in got_sf  # "aa" x3
    assert (1, 0) in got_sf and (1, 1) in got_sf                      # "aaa" x2
    assert (3, 5) in got_sf and (4, 13) in got_sf                     # nested
