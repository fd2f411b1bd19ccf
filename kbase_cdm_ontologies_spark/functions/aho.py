"""Pure-Python Aho-Corasick automaton for batched dictionary matching.

Matches the broadcast alias dictionary (the Spark analog of the
reference's label/synonym statements — rdfs:label 10,576 +
oio:*Synonym ~6,900 rows in outputs_test statements.parquet; SURVEY.md
§2.3 "alias-dictionary match"): `broadcast_alias_dictionary` ships the
dictionary once per job, and `worker_dictionary` builds its automaton
once per Python worker. The trie is a dict-of-dicts with BFS failure links;
matching is O(len(text) + matches), independent of dictionary size —
the property that makes mention detection scale to millions of aliases
where a regex-alternation would not.

Word-boundary semantics: a hit counts only if not flanked by [a-z0-9]
(applied on the casefolded haystack), mirroring whole-word term mentions.
"""

from __future__ import annotations

import hashlib


class AhoCorasick:
    __slots__ = ("goto", "fail", "out", "lens")

    def __init__(self, patterns: list[str]):
        self.lens = [len(p) for p in patterns]
        # goto: list of dict char->state; out: list of list of pattern idx
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        for idx, pat in enumerate(patterns):
            state = 0
            for ch in pat:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[state][ch] = nxt
                state = nxt
            self.out[state].append(idx)
        # failure links via BFS
        self.fail = [0] * len(self.goto)
        queue = list(self.goto[0].values())
        for s in queue:
            self.fail[s] = 0
        head = 0
        while head < len(queue):
            r = queue[head]
            head += 1
            for ch, s in self.goto[r].items():
                queue.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0)
                if self.fail[s] == s:
                    self.fail[s] = 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def find(self, text: str) -> list[tuple[int, int]]:
        """(pattern_idx, start_offset) of every occurrence."""
        res = []
        state = 0
        goto, fail, out, lens = self.goto, self.fail, self.out, self.lens
        for i, ch in enumerate(text):
            while state and ch not in goto[state]:
                state = fail[state]
            state = goto[state].get(ch, 0)
            if out[state]:
                for pidx in out[state]:
                    res.append((pidx, i - lens[pidx] + 1))
        return res


class ScanFind:
    """Small-dictionary fast path: per-pattern C-speed ``str.find``
    scans. ``find()`` contract identical to AhoCorasick — EVERY
    occurrence of every pattern, overlapping and nested included
    (restart at start+1, so 'aa' in 'aaa' hits twice) — only the emit
    order differs, and every consumer aggregates into counts. The
    pure-Python AC walks the haystack one character at a time in the
    interpreter (O(n) dict lookups per document — the measured wall of
    the mention stage); str.find runs the whole scan in C, so for P
    patterns the cost is P fast scans instead of one slow one. The
    crossover favours AC only for large dictionaries, hence the
    build-site guard."""

    __slots__ = ("patterns", "lens")

    def __init__(self, patterns: list[str]):
        self.patterns = patterns
        self.lens = [len(p) for p in patterns]

    def find(self, text: str) -> list[tuple[int, int]]:
        res = []
        for pidx, pat in enumerate(self.patterns):
            start = text.find(pat)
            while start != -1:
                res.append((pidx, start))
                start = text.find(pat, start + 1)
        return res


# Below this many patterns, P C-speed scans beat one interpreted AC
# walk (measured on 3KB docs: 21x at P=8, 2.4x at P=64, parity near
# P~200). Above it, AC's dictionary-size independence wins.
SCAN_FIND_MAX_PATTERNS = 128


def build_automaton(patterns: list[str]):
    """Per-pattern C find-scans for small dictionaries; else the
    pure-Python trie."""
    if len(patterns) <= SCAN_FIND_MAX_PATTERNS:
        return ScanFind(patterns)
    return AhoCorasick(patterns)


_WORDCH = set("abcdefghijklmnopqrstuvwxyz0123456789")


def find_word_bounded(ac, text_norm: str) -> list[tuple[int, int]]:
    """Occurrences of ac's patterns in casefolded text, whole-word
    only."""
    hits = []
    n = len(text_norm)
    lens = ac.lens
    for pidx, start in ac.find(text_norm):
        end = start + lens[pidx]
        if start > 0 and text_norm[start - 1] in _WORDCH:
            continue
        if end < n and text_norm[end] in _WORDCH:
            continue
        hits.append((pidx, start))
    return hits


def broadcast_alias_dictionary(alias) -> tuple:
    """Collect alias(alias_norm, term_id) and broadcast it as sorted
    patterns plus each pattern's sorted candidate terms. Returns the
    (broadcast, key) handle `worker_dictionary` takes; the key is the
    dictionary version (a Broadcast has no worker-side id in PySpark
    4)."""
    rows = alias.select("alias_norm", "term_id").distinct().collect()
    by_pattern: dict[str, list[str]] = {}
    for r in rows:
        by_pattern.setdefault(r["alias_norm"], []).append(r["term_id"])
    patterns = sorted(by_pattern)
    pattern_terms = [sorted(by_pattern[p]) for p in patterns]
    bcast = alias.sparkSession.sparkContext.broadcast((patterns, pattern_terms))
    key = hashlib.sha256("\x00".join(patterns).encode()).hexdigest()
    return bcast, key


_CACHE: dict[str, tuple] = {}


def worker_dictionary(bcast, key: str) -> tuple:
    """(automaton, patterns, pattern_terms) of a broadcast dictionary,
    built once per worker process and reused by every task it runs."""
    cached = _CACHE.get(key)
    if cached is None:
        patterns, pattern_terms = bcast.value
        cached = (build_automaton(patterns), patterns, pattern_terms)
        _CACHE.clear()  # one dictionary version live per worker
        _CACHE[key] = cached
    return cached
