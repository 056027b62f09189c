"""Multi-pattern matcher backends for the mention scan.

Two interchangeable backends behind ``build_matcher``.  A matcher holds
surface strings only; ``scan(text)`` returns ``(start, surface)`` pairs and
the caller looks the surface up in its own map:

1. ``TrieRegexMatcher`` — the pattern set compiled into a TRIE-STRUCTURED
   regular expression (shared prefixes become nested groups), scanned by
   CPython's C regex engine; each search restarts one character past the
   previous match start, so overlapping starts are visited.  The engine's greedy nested-optional walk finds the
   LONGEST pattern at each position; shorter patterns at the same start
   are exactly the trie-terminal prefixes of that longest match, recovered
   from a precomputed prefix-chain.  Word-boundary guards are applied in
   Python per *match* (matches are sparse; characters are not).
2. ``AhoCorasick`` (pure Python, pipeline/ahocorasick.py) — the fallback
   for pattern sets too large to compile as a regex.

Both backends emit the same match set as the reference automaton:
every (start, pattern) occurrence where the char before ``start`` and the
char after the match are not alphanumeric.  Equivalence is pinned by
tests/test_matcher.py over adversarial nesting/overlap cases.

Scale note (SURVEY §2, DESIGN.md): the matcher is built once on the
driver and broadcast; per-executor memory is the binding constraint at
the 13M-surface gazetteer scale — the regex program takes about half the
dict-trie's memory (measured in DESIGN.md).
"""

from __future__ import annotations

import re

from geonames_rdf_spark.pipeline.ahocorasick import AhoCorasick

# above this many patterns, building one giant regex stresses sre's
# compiler; fall back to the pure-Python automaton
REGEX_MAX_PATTERNS = 200_000


class _TrieNode:
    __slots__ = ("children", "terminal")

    def __init__(self):
        self.children: dict[str, _TrieNode] = {}
        self.terminal = False


def _trie_regex(node: _TrieNode) -> str:
    """Nested-group regex for the subtree; greedy optionals => the engine
    captures the LONGEST terminal on the path first and backtracks to
    shorter terminals only if the longer continuation fails."""
    if not node.children:
        return ""
    parts = [re.escape(ch) + _trie_regex(child)
             for ch, child in sorted(node.children.items())]
    group = parts[0] if len(parts) == 1 and not node.terminal else (
        "(?:" + "|".join(parts) + ")"
    )
    if node.terminal:
        group = "(?:" + "|".join(parts) + ")?"
    return group


class TrieRegexMatcher:
    """Exact Aho-Corasick semantics via one trie-structured regex scan."""

    def __init__(self, patterns):
        pats = dict.fromkeys(p for p in patterns if p)
        root = _TrieNode()
        for pat in pats:
            node = root
            for ch in pat:
                node = node.children.setdefault(ch, _TrieNode())
            node.terminal = True
        # every pattern that is a proper prefix of ``pat`` (the only other
        # patterns that can match at the same start position)
        self._prefix_chain: dict[str, list[str]] = {}
        for pat in pats:
            node, chain = root, []
            for i, ch in enumerate(pat[:-1]):
                node = node.children[ch]
                if node.terminal:
                    chain.append(pat[: i + 1])
            self._prefix_chain[pat] = chain
        # CONSUMING pattern (not a lookahead): sre's scanner then applies
        # its first-charset skip between attempts — the inter-match gap is
        # scanned at C memchr speed instead of one VM attempt per offset.
        # Overlap is recovered by restarting the search at start+1.
        self._re = re.compile(_trie_regex(root)) if pats else None

    def scan(self, text: str) -> list[tuple[int, str]]:
        """(start, pattern) pairs, word-boundary-guarded — identical set
        to ``AhoCorasick.scan`` (order: by start, then pattern length
        ascending)."""
        if self._re is None or not text:
            return []
        res = []
        n = len(text)
        chain = self._prefix_chain
        append = res.append
        search = self._re.search
        pos = 0
        while True:
            m = search(text, pos)
            if m is None:
                return res
            start = m.start()
            pos = start + 1
            if start > 0 and text[start - 1].isalnum():
                continue
            longest = m.group(0)
            for pat in chain[longest]:
                end = start + len(pat)
                if end >= n or not text[end].isalnum():
                    append((start, pat))
            end = start + len(longest)
            if end >= n or not text[end].isalnum():
                append((start, longest))


def scored_fingerprint(scored_map: dict[str, list]) -> tuple[int, int]:
    """Content fingerprint of a surface map: (count, order-independent sum
    of per-(key, candidates) hashes).  Covers keys AND candidates — two maps
    with identical surfaces but different candidate ids or priors must not
    compare equal (a scan would silently match from the stale broadcast).
    Built-in ``hash`` is process-seeded, which is right here: both sides
    of a comparison are computed in the same driver process."""
    n, acc = 0, 0
    for k, v in scored_map.items():
        if k:
            n += 1
            acc = (acc + hash((k, tuple(v)))) & 0xFFFFFFFFFFFFFFFF
    return (n, acc)


def build_matcher(surfaces):
    """Matcher over the non-empty strings of ``surfaces`` (any iterable;
    a surface map passes its keys): the trie-regex up to
    ``REGEX_MAX_PATTERNS`` patterns, else the pure-Python automaton.  An
    empty pattern set gets the regex backend, whose scan returns []."""
    pats = dict.fromkeys(p for p in surfaces if p)
    if len(pats) <= REGEX_MAX_PATTERNS:
        return TrieRegexMatcher(pats)
    return AhoCorasick(pats)
