"""Pure-Python BM25 and boolean evaluator over a generated corpus, and the
result comparisons the benchmark counts failures with.

The corpus text is space-separated lowercase words (see gen.py), so a
document's token bag is ``text.split()``. BM25 is Okapi BM25 with the
engine's parameters (k1=1.2, b=0.75), idf = ln(1 + (N - df + 0.5) /
(df + 0.5)), N and avgdl over documents with at least one token. Top-k
order is score descending, then doc id ascending.
"""

from __future__ import annotations

import heapq
import math
from collections import Counter

REL_TOL = 1e-9
K1, B = 1.2, 0.75


class Oracle:
    def __init__(self, docs: dict[int, str]):
        self.postings: dict[str, dict[int, int]] = {}
        self.dl: dict[int, int] = {}
        for doc, text in docs.items():
            words = text.split()
            if not words:
                continue
            self.dl[doc] = len(words)
            for w, tf in Counter(words).items():
                self.postings.setdefault(w, {})[doc] = tf
        self.n = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n if self.n else 0.0

    def term_count(self) -> int:
        return len(self.postings)

    def df_sum(self) -> int:
        return sum(len(p) for p in self.postings.values())

    def scores(self, query: str) -> dict[int, float]:
        k1, b, avgdl = K1, B, self.avgdl
        out: dict[int, float] = {}
        for term in sorted(set(query.split())):
            plist = self.postings.get(term)
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for doc, tf in plist.items():
                w = idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * self.dl[doc] / avgdl))
                out[doc] = out.get(doc, 0.0) + w
        return out

    def topk(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        s = self.scores(query)
        return heapq.nsmallest(k, ((d, v) for d, v in s.items()),
                               key=lambda dv: (-dv[1], dv[0]))

    def bool_and(self, query: str) -> list[int]:
        words = list(dict.fromkeys(w for w in query.split(" ") if w))
        if not words:
            return []
        sets = [self.postings.get(w, {}).keys() for w in words]
        out = set(sets[0])
        for s in sets[1:]:
            out &= s
        return sorted(out)


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def same_topk(got, want, full_scores: dict[int, float] | None = None
              ) -> str | None:
    """None when two top-k lists (of (doc_id, score)) agree, else a reason.

    Doc ids must match in order and scores to ``REL_TOL`` relative. The one
    exception is a run of scores equal to within ``REL_TOL``: summation
    order differs between the tiers, so equal scores can differ in their
    last bits and swap places. Inside such a run the doc ids must match
    as a set; when the run is cut by k, each side's docs in it must score
    equal to the run (checked against ``full_scores``, every candidate's
    oracle score)."""
    got, want = list(got), list(want)
    if len(got) != len(want):
        return f"length {len(got)} != {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if not close(gs, ws):
            return f"rank {i}: score {gs!r} != {ws!r}"
    i = 0
    while i < len(got):
        j = i + 1
        while j < len(got) and close(got[j][1], got[i][1]):
            j += 1
        g = [d for d, _ in got[i:j]]
        w = [d for d, _ in want[i:j]]
        if j - i == 1:
            if g != w:
                return f"rank {i}: doc {g[0]} != {w[0]}"
        elif set(g) != set(w):
            if j < len(got) or full_scores is None:
                return f"ranks {i}-{j - 1}: docs {g} != {w}"
            ref = got[i][1]
            bad = [d for d in g + w
                   if d not in full_scores or not close(full_scores[d], ref)]
            if bad:
                return f"ranks {i}-{j - 1}: docs {bad} do not tie at {ref!r}"
        i = j
    return None
