"""Seeded workload generator: corpus, classed query stream, ingest batches.

Everything here is a pure function of a ``numpy.random.Generator`` built
from the command-line seed, so one seed always yields the same inputs.
Text is lowercase alphanumeric words joined by single spaces, which makes
the engine's default ``alnum`` tokenizer an identity on ``str.split``: the
expected token bag of every document is known without calling the engine.

Vocabulary words are ``w<hex rank>`` drawn from a Zipf law over a large
vocabulary (web-like: a few head terms in every shard, a long tail of
terms seen once). Needles ``n<hex>`` occur in exactly one document each.
Absent query words ``x<hex>`` occur in no document.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np

QUERY_CLASSES = ("head", "mid", "tail", "needle")

# corpus shape: Zipf exponent and vocabulary of web text, 40-160 words per
# document, one needle in 20% of documents, 1% empty documents
VOCAB = 200_000
ZIPF_S = 1.05
MIN_WORDS, MAX_WORDS = 40, 160
NEEDLE_SHARE = 0.2
EMPTY_SHARE = 0.01

# query stream: head terms are drawn from the N_HEAD most frequent terms;
# ABSENT_SHARE of queries carry a word that is in no document
N_HEAD = 32
ABSENT_SHARE = 0.2


@dataclass
class Corpus:
    texts: list[str]
    # term -> document frequency over the non-empty documents
    df: Counter = field(default_factory=Counter)

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)


class WordSource:
    """Zipf word sampler shared by the corpus and ingest generators."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        p = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.next_needle = 0

    def words(self, n: int) -> list[str]:
        ranks = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        ranks = np.minimum(ranks, VOCAB - 1)
        return [f"w{r:x}" for r in ranks]

    def needle(self) -> str:
        self.next_needle += 1
        return f"n{self.next_needle:x}"

    def document(self) -> str:
        if self.rng.random() < EMPTY_SHARE:
            return ""
        ws = self.words(int(self.rng.integers(MIN_WORDS, MAX_WORDS + 1)))
        if self.rng.random() < NEEDLE_SHARE:
            ws.insert(int(self.rng.integers(0, len(ws) + 1)), self.needle())
        return " ".join(ws)


def make_corpus(src: WordSource, n_docs: int) -> Corpus:
    texts = [src.document() for _ in range(n_docs)]
    return Corpus(texts, document_frequencies(texts))


def document_frequencies(texts) -> Counter:
    df: Counter = Counter()
    for t in texts:
        df.update(set(t.split()))
    return df


@dataclass(frozen=True)
class Query:
    qid: str
    cls: str
    text: str


def df_cache_budget(corpus: Corpus) -> int:
    """The serving tiers' ``prefetch_stats`` budget, scaled to the corpus:
    half of its terms seen in more than one document. Terms ranked below
    it are what a web-scale dictionary leaves outside the engine's 100k
    default."""
    return sum(1 for d in corpus.df.values() if d > 1) // 2


def make_queries(rng: np.random.Generator, corpus: Corpus, n: int,
                 df_cache_budget: int) -> tuple[list[Query], dict]:
    """Seeded query stream cycling head / mid / tail / needle classes.

    - head: two of the ``N_HEAD`` most frequent terms (present in every
      shard, so no shard pruning);
    - mid: two terms ranked inside the df-cache budget (cache hits);
    - tail: two vocabulary terms whose df is below the df at the budget
      rank, so they are outside any top-``df_cache_budget`` prefetch and
      each query's stats lookup misses; drawn without replacement so a
      later query cannot hit an entry cached by an earlier one;
    - needle: one df=1 needle term (one shard).

    ``ABSENT_SHARE`` of queries get an extra word that is in no document.
    Returns the queries and the stream's measured properties."""
    ranked = sorted(corpus.df.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab_terms = [t for t, _ in ranked if t.startswith("w")]
    head = vocab_terms[:N_HEAD]
    budget_df = ranked[df_cache_budget - 1][1]
    mid = [t for t, d in ranked[N_HEAD:df_cache_budget]
           if t.startswith("w") and d > budget_df]
    tail = [t for t, d in ranked if t.startswith("w") and d < budget_df]
    needles = [t for t, _ in ranked if t.startswith("n")]
    rng.shuffle(tail)
    rng.shuffle(needles)
    pools = {"head": head, "mid": mid}
    queries = []
    for i in range(n):
        cls = QUERY_CLASSES[i % len(QUERY_CLASSES)]
        if cls in pools:
            pool = pools[cls]
            a, b = rng.choice(len(pool), size=2, replace=False)
            words = [pool[a], pool[b]]
        elif cls == "tail":
            words = [tail.pop(), tail.pop()]
        else:
            words = [needles.pop()]
        if rng.random() < ABSENT_SHARE:
            words.append(f"x{int(rng.integers(1 << 40)):x}")
        queries.append(Query(f"q{i}", cls, " ".join(words)))
    props = {
        "vocabulary": len(corpus.df),
        "query_class_share": {c: round(sum(q.cls == c for q in queries)
                                       / n, 4) for c in QUERY_CLASSES},
        "absent_term_query_share": round(
            sum(any(w.startswith("x") for w in q.text.split())
                for q in queries) / n, 4),
        "df_cache_budget": df_cache_budget,
        "df_at_budget_rank": budget_df,
    }
    return queries, props


def tail_terms(queries: list[Query]) -> list[str]:
    """The vocabulary words of the stream's tail queries."""
    return [w for q in queries if q.cls == "tail"
            for w in q.text.split() if w.startswith("w")]


@dataclass(frozen=True)
class Page:
    url: str
    warc_ts: int  # seconds; increases with the batch number
    text: str
    kind: str  # new / recrawl0 / recrawl50 / recrawl100 / delete


INGEST_MIX = (("new", 0.40), ("recrawl0", 0.15), ("recrawl50", 0.15),
              ("recrawl100", 0.15), ("delete", 0.15))


class IngestStream:
    """Base corpus plus a stream of micro-batches over it.

    Each batch holds distinct urls: new urls, re-crawls of live urls with
    0 / 50 / 100 % of their words replaced, and empty-text deletes of live
    urls. ``live`` is the last-wins, deletes-applied corpus after every
    batch generated so far (url -> text)."""

    def __init__(self, src: WordSource, base_docs: int, batch_rows: int):
        self.src = src
        self.batch_rows = batch_rows
        self.next_url = 0
        self.base = [self._new_page(0) for _ in range(base_docs)]
        self.live = {p.url: p.text for p in self.base if p.text}
        self.batches_made = 0

    def _new_page(self, ts: int) -> Page:
        self.next_url += 1
        return Page(f"u{self.next_url:x}", ts, self.src.document(), "new")

    def next_batch(self) -> list[Page]:
        rng = self.src.rng
        self.batches_made += 1
        ts = self.batches_made
        n = self.batch_rows
        counts = {k: round(share * n) for k, share in INGEST_MIX[1:]}
        n_old = sum(counts.values())
        counts["new"] = n - n_old
        live_urls = sorted(self.live)
        picked = rng.choice(len(live_urls), size=n_old, replace=False)
        old = iter(live_urls[i] for i in picked)
        pages = [self._new_page(ts) for _ in range(counts["new"])]
        for kind, _ in INGEST_MIX[1:]:
            for _ in range(counts[kind]):
                url = next(old)
                if kind == "delete":
                    text = ""
                else:
                    text = self._recrawl(self.live[url],
                                         int(kind[len("recrawl"):]) / 100)
                pages.append(Page(url, ts, text, kind))
        for p in pages:
            if p.text:
                self.live[p.url] = p.text
            else:
                self.live.pop(p.url, None)
        return pages

    def _recrawl(self, text: str, changed: float) -> str:
        words = text.split()
        k = int(round(changed * len(words)))
        if k:
            pos = self.src.rng.choice(len(words), size=k, replace=False)
            for p, w in zip(pos, self.src.words(k)):
                words[p] = w
        return " ".join(words)
