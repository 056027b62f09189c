"""TrieRegexMatcher == pure-Python AhoCorasick on adversarial cases.

The regex backend must reproduce the automaton's exact match set:
overlapping occurrences, nested prefix patterns at one start position,
word-boundary guards, unicode, punctuation inside patterns.
"""

from __future__ import annotations

import pytest

from geonames_rdf_spark.pipeline.ahocorasick import AhoCorasick
from geonames_rdf_spark.pipeline.matcher import TrieRegexMatcher, build_matcher


def both(patterns, text):
    a = sorted(AhoCorasick(patterns).scan(text))
    r = sorted(TrieRegexMatcher(patterns).scan(text))
    return a, r


@pytest.mark.parametrize("patterns,text", [
    # nested prefixes all matching at one start
    ({"ab": [1], "abc": [2], "abcd": [3]}, "zz abcd abc ab zz"),
    # prefix blocked by the after-boundary, longer one passes
    ({"New York": [1], "New York City": [2]},
     "in New York City and New York."),
    # overlapping starts
    ({"aba": [1]}, "x ababa aba y"),
    # boundary guards: alnum-adjacent occurrences are noise
    ({"Paris": [1]}, "Paris Parising xParis (Paris) Paris2 Paris"),
    # punctuation and hyphens inside patterns
    ({"ort-1": [1], "Gross Ort 1, Alpha": [2]},
     "see ort-1 and Gross Ort 1, Alpha; also ort-12"),
    # unicode letters count as word chars for the guard
    ({"Zürich": [1], "Zü": [2]}, "in Zürich, Zü and Zürichsee"),
    # pattern at text start/end (no chars beyond the boundary)
    ({"abc": [1]}, "abc x abc"),
    # patterns sharing long prefixes, branching late
    ({"AltName 1": [1], "AltName 12": [2], "AltName 13": [3],
      "AltName 2": [4]}, "AltName 12 and AltName 1 and AltName 13."),
    # empty text / no hits
    ({"abc": [1]}, ""),
    ({"abc": [1]}, "zzz"),
])
def test_regex_matches_automaton(patterns, text):
    a, r = both(patterns, text)
    assert a == r


def test_regex_matches_automaton_on_corpus_shapes():
    pats = {f"AltName {i}": [i] for i in range(200)}
    pats.update({f"Feature {i}": [1000 + i] for i in range(200)})
    text = ("Page 7 reports on AltName 12 and Feature 199 and AltName 1. "
            "Officials said AltName 123 was fine near Feature 19.")
    a, r = both(pats, text)
    assert a == r
    assert ("Feature 19" in {p for _, p, _ in r}) is True
    # 'AltName 12' inside 'AltName 123' must NOT match (boundary)
    starts = {(s, p) for s, p, _ in r}
    assert all(not (p == "AltName 12" and text[s + 10].isdigit())
               for s, p in starts)


def test_build_matcher_fallback_selection():
    m = build_matcher({"ab": [1]}, backend="regex")
    assert isinstance(m, TrieRegexMatcher)
    m2 = build_matcher({"ab": [1]}, backend="python")
    assert isinstance(m2, AhoCorasick)
    # auto without the C extension lands on the regex backend
    m3 = build_matcher({"ab": [1]})
    assert isinstance(m3, (TrieRegexMatcher,)) or hasattr(m3, "_auto")


def test_matcher_is_picklable_for_broadcast():
    import pickle

    m = TrieRegexMatcher({"New York": [5], "New": [2]})
    m2 = pickle.loads(pickle.dumps(m))
    assert sorted(m2.scan("New York!")) == sorted(m.scan("New York!"))
    assert m2.scan("New York!") == [(0, "New", [2]), (0, "New York", [5])]


def test_build_matcher_empty_pattern_set():
    for pats in ({}, {"": [1]}):
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
        patterns = {p: [hash(p) % 97] for p in pats}
        assert (sorted(AhoCorasick(patterns).scan(text))
                == sorted(TrieRegexMatcher(patterns).scan(text)))
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass


def test_detect_mentions_sees_changed_candidate_ids(spark):
    """Same surface, new candidate ids: the matcher memo must not serve
    the first map's payload to the second scan."""
    from geonames_rdf_spark.pipeline import mentions

    pages = spark.createDataFrame([("u", "Paris today")],
                                  "url string, text string")

    def candidates(smap):
        return [r["candidate"] for r in
                mentions.detect_mentions(pages, smap).collect()]

    assert candidates({"Paris": [111]}) == [111]
    assert candidates({"Paris": [222]}) == [222]


def test_broadcast_memo_content_keyed(spark):
    """The broadcast memo reuses a broadcast only for equal content: an
    equal-size map of a different surface (matcher) and the same keys
    with a different prior (scored bundle) each get a fresh broadcast
    and scan with their own content."""
    from geonames_rdf_spark.pipeline import mentions

    pages = spark.createDataFrame(
        [("u", "Alpha visited", "en")], "url string, text string, lang string")

    def memo(kind):
        return mentions._BC_MEMO[kind][1]

    map_a = {"Alpha": [1]}
    map_b = {"Betaa": [1]}  # same size, different surface
    assert mentions.detect_mentions(pages, map_a).count() == 1
    bc_a = memo("matcher")
    assert mentions.detect_mentions(pages, dict(map_a)).count() == 1
    assert memo("matcher") is bc_a  # equal content in a new dict: reused
    assert mentions.detect_mentions(pages, map_b).count() == 0
    assert memo("matcher") is not bc_a

    def scores(smap):
        return [r["score"] for r in
                mentions.detect_and_link(pages, smap).collect()]

    scored_a = {"Alpha": [(1, 0.5, "C0")]}
    scored_b = {"Alpha": [(1, 0.9, "C0")]}  # same keys, different prior
    assert scores(scored_a) == [2.5]  # prior + "en" bonus
    bundle_a = memo("bundle")
    assert scores(dict(scored_a)) == [2.5]
    assert memo("bundle") is bundle_a
    assert scores(scored_b) == [2.9]
    assert memo("bundle") is not bundle_a
