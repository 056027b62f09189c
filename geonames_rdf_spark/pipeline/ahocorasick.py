"""Minimal pure-Python Aho-Corasick automaton (pickleable, broadcastable).

Built once on the driver from the gazetteer surface forms, shipped to
executors via ``SparkContext.broadcast``, and run inside Arrow-batched
``mapInPandas`` — the pattern mandated by the project input hint (no
per-row Python UDFs; the automaton scan is per-*batch*).

The reference has no matcher (it joins on exact codes); this is the
web-scale generalization: multi-pattern string search in O(text length).
"""

from __future__ import annotations

from collections import deque


class AhoCorasick:
    """Classic trie + failure-link automaton over unicode strings."""

    def __init__(self, patterns):
        """``patterns``: iterable of surface forms."""
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        self.fail: list[int] = [0]
        for pat in dict.fromkeys(patterns):
            if not pat:
                continue
            state = 0
            for ch in pat:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[state][ch] = nxt
                state = nxt
            self.out[state].append(pat)
        # BFS failure links
        q: deque[int] = deque()
        for s in self.goto[0].values():
            self.fail[s] = 0
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != s else 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def scan(self, text: str) -> list[tuple[int, str]]:
        """(start_offset, surface) for every match with
        word-boundary guards (a toponym inside a longer word is noise).

        Hot loop: local bindings + empty-output fast path (~30% faster
        than attribute lookups per char — this IS the pipeline's CPU
        bottleneck, see BENCH.md)."""
        res = []
        state = 0
        n = len(text)
        goto, fail, out = self.goto, self.fail, self.out
        append = res.append
        for i, ch in enumerate(text):
            node = goto[state]
            while state and ch not in node:
                state = fail[state]
                node = goto[state]
            state = node.get(ch, 0)
            matches = out[state]
            if not matches:
                continue
            nxt_ok = i + 1 >= n or not text[i + 1].isalnum()
            if not nxt_ok:
                continue
            for pat in matches:
                start = i - len(pat) + 1
                if start == 0 or not text[start - 1].isalnum():
                    append((start, pat))
        return res
