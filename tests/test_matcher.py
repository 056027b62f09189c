"""TrieRegexMatcher == pure-Python AhoCorasick on adversarial cases.

The regex backend must reproduce the automaton's exact match set of
(start, surface) pairs: overlapping occurrences, nested prefix patterns at
one start position, word-boundary guards, unicode, punctuation inside
patterns.
"""

from __future__ import annotations

import pytest

from geonames_rdf_spark.pipeline import matcher
from geonames_rdf_spark.pipeline.ahocorasick import AhoCorasick
from geonames_rdf_spark.pipeline.matcher import TrieRegexMatcher, build_matcher


def both(patterns, text):
    a = sorted(AhoCorasick(patterns).scan(text))
    r = sorted(TrieRegexMatcher(patterns).scan(text))
    return a, r


@pytest.mark.parametrize("patterns,text", [
    # nested prefixes all matching at one start
    (["ab", "abc", "abcd"], "zz abcd abc ab zz"),
    # prefix blocked by the after-boundary, longer one passes
    (["New York", "New York City"], "in New York City and New York."),
    # overlapping starts
    (["aba"], "x ababa aba y"),
    # boundary guards: alnum-adjacent occurrences are noise
    (["Paris"], "Paris Parising xParis (Paris) Paris2 Paris"),
    # punctuation and hyphens inside patterns
    (["ort-1", "Gross Ort 1, Alpha"],
     "see ort-1 and Gross Ort 1, Alpha; also ort-12"),
    # unicode letters count as word chars for the guard
    (["Zürich", "Zü"], "in Zürich, Zü and Zürichsee"),
    # pattern at text start/end (no chars beyond the boundary)
    (["abc"], "abc x abc"),
    # patterns sharing long prefixes, branching late
    (["AltName 1", "AltName 12", "AltName 13", "AltName 2"],
     "AltName 12 and AltName 1 and AltName 13."),
    # empty text / no hits
    (["abc"], ""),
    (["abc"], "zzz"),
])
def test_regex_matches_automaton(patterns, text):
    a, r = both(patterns, text)
    assert a == r


def test_regex_matches_automaton_on_corpus_shapes():
    pats = [f"AltName {i}" for i in range(200)]
    pats += [f"Feature {i}" for i in range(200)]
    text = ("Page 7 reports on AltName 12 and Feature 199 and AltName 1. "
            "Officials said AltName 123 was fine near Feature 19.")
    a, r = both(pats, text)
    assert a == r
    assert ("Feature 19" in {p for _, p in r}) is True
    # 'AltName 12' inside 'AltName 123' must NOT match (boundary)
    assert all(not (p == "AltName 12" and text[s + 10].isdigit())
               for s, p in r)


def test_build_matcher_fallback_selection(monkeypatch):
    """``build_matcher`` picks the trie-regex up to REGEX_MAX_PATTERNS
    patterns and the pure-Python automaton past it; both find the same
    pairs.  A scored map's keys are its surfaces."""
    monkeypatch.setattr(matcher, "REGEX_MAX_PATTERNS", 2)
    text = "New York!"
    at_bound = build_matcher({"New": [(2, 0.0, "C0")],
                              "New York": [(5, 0.0, "C0")], "": []})
    assert isinstance(at_bound, TrieRegexMatcher)
    over = build_matcher(["New", "New York", "York"])
    assert isinstance(over, AhoCorasick)
    assert at_bound.scan(text) == [(0, "New"), (0, "New York")]
    assert sorted(over.scan(text)) == [(0, "New"), (0, "New York"),
                                       (4, "York")]


def test_matcher_is_picklable_for_broadcast():
    import pickle

    m = TrieRegexMatcher(["New York", "New"])
    m2 = pickle.loads(pickle.dumps(m))
    assert sorted(m2.scan("New York!")) == sorted(m.scan("New York!"))
    assert m2.scan("New York!") == [(0, "New"), (0, "New York")]


def test_build_matcher_empty_pattern_set():
    for pats in ({}, {"": []}, [], [""]):
        m = build_matcher(pats)
        assert m.scan("anything at all") == []


# --- property-based equivalence (heavy nesting/overlap via tiny alphabet) --

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _word = st.text(alphabet="ab 1", min_size=1, max_size=6)

    @settings(max_examples=200, deadline=None)
    @given(
        pats=st.sets(_word, min_size=1, max_size=12),
        text=st.text(alphabet="ab 1.x", min_size=0, max_size=60),
    )
    def test_regex_equals_automaton_property(pats, text):
        assert (sorted(AhoCorasick(pats).scan(text))
                == sorted(TrieRegexMatcher(pats).scan(text)))
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass


def test_detect_mentions_sees_changed_candidate_ids(spark):
    """Same surface, new candidate ids: the broadcast memo must not serve
    the first map's candidates to the second scan."""
    from geonames_rdf_spark.pipeline import mentions

    pages = spark.createDataFrame([("u", "Paris today")],
                                  "url string, text string")

    def candidates(smap):
        return [r["candidate"] for r in
                mentions.detect_mentions(pages, smap).collect()]

    assert candidates({"Paris": [(111, 0.0, "C0")]}) == [111]
    assert candidates({"Paris": [(222, 0.0, "C0")]}) == [222]


def _matcher_counts():
    """(hits, misses) of the matcher memo site, which holds one broadcast."""
    from geonames_rdf_spark import memo

    got = memo.stats()["matcher"]
    assert got["entries"] == 1
    return got["hits"], got["misses"]


def test_broadcast_memo_content_keyed(spark):
    """The broadcast memo reuses a broadcast only for equal content: an
    equal-size map of a different surface and the same keys with a
    different prior each get a fresh broadcast and scan with their own
    content."""
    from geonames_rdf_spark.pipeline import mentions

    pages = spark.createDataFrame(
        [("u", "Alpha visited", "en")], "url string, text string, lang string")

    map_a = {"Alpha": [(1, 0.5, "C0")]}
    map_b = {"Betaa": [(1, 0.5, "C0")]}  # same size, different surface
    assert mentions.detect_mentions(pages, map_a).count() == 1
    hits, misses = _matcher_counts()
    assert mentions.detect_mentions(pages, dict(map_a)).count() == 1
    # equal content in a new dict: reused
    assert _matcher_counts() == (hits + 1, misses)
    assert mentions.detect_mentions(pages, map_b).count() == 0
    assert _matcher_counts() == (hits + 1, misses + 1)

    def scores(smap):
        return [r["score"] for r in
                mentions.detect_and_link(pages, smap).collect()]

    scored_b = {"Alpha": [(1, 0.9, "C0")]}  # same keys, different prior
    assert scores(map_a) == [2.5]  # prior + "en" bonus
    hits, misses = _matcher_counts()
    assert scores(dict(map_a)) == [2.5]
    assert _matcher_counts() == (hits + 1, misses)
    assert scores(scored_b) == [2.9]
    assert _matcher_counts() == (hits + 1, misses + 1)


def test_both_scans_share_one_broadcast(spark):
    """``detect_mentions`` and then ``detect_and_link`` over one scored
    map leave ONE memo entry and scan with the same broadcast."""
    from geonames_rdf_spark.pipeline import mentions

    pages = spark.createDataFrame(
        [("u", "Alpha and Beta", "de")],
        "url string, text string, lang string")
    smap = {"Alpha": [(1, 0.5, "C0"), (2, 0.5, "C1")],
            "Beta": [(3, 0.1, "C0")]}
    got = {(r["surface"], r["candidate"]) for r in
           mentions.detect_mentions(pages, smap, carry_lang=True).collect()}
    assert got == {("Alpha", 2), ("Alpha", 1), ("Beta", 3)}
    hits, misses = _matcher_counts()
    linked = {(r["surface"], r["geonameid"]) for r in
              mentions.detect_and_link(pages, smap).collect()}
    assert linked == {("Alpha", 2), ("Beta", 3)}  # "de" favours C1
    assert _matcher_counts() == (hits + 1, misses)
