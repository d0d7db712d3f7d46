"""Slow-but-obviously-correct pure-Python oracle (no Spark, no numpy).

Plays the role Elasticsearch plays in the reference's tests: golden analyzed
tokens (mirrors /root/reference/test/wapo/test_parse.py:20-35) and golden
BM25 top-k with exact scores (mirrors the exact-BM25 assertions at
/root/reference/test/wapo/test_ranking.py:99-110). Deliberately written
per-string / per-doc with dicts and loops — an independent implementation
the vectorized engine must match rank-identically (scores atol 1e-9).
"""

from __future__ import annotations

import math
import re
from collections import Counter
from dataclasses import dataclass

from ..config import AnalyzerConfig, BM25Config

_CAMEL = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")
_ACRONYM = re.compile(r"(?<=[A-Z])(?=[A-Z][a-z])")
_SPLIT = re.compile(r"[^a-z0-9]+")
_TOKEN = re.compile(r"^[a-z][a-z0-9]*$")
_WORD = re.compile(r"[A-Za-z0-9]+(?:['’][A-Za-z0-9]+)*")
_POSSESSIVE = re.compile(r"['’][sS]$")


def analyze(text: str, cfg: AnalyzerConfig | None = None) -> list[str]:
    """Reference analyzer (dispatches on cfg.mode, see AnalyzerConfig)."""
    cfg = cfg or AnalyzerConfig()
    if text is None:
        return []
    if cfg.mode == "news":
        return _analyze_news(text, cfg)
    if cfg.mode == "german":
        from ..functions.german import analyze_german

        return analyze_german(text, cfg.stopwords)
    s = _CAMEL.sub(" ", text)
    s = _ACRONYM.sub(" ", s)
    s = s.lower()
    out = []
    for t in _SPLIT.split(s):
        if len(t) >= cfg.min_token_len and t not in cfg.stopwords and _TOKEN.match(t):
            out.append(t)
    return out


def _analyze_news(text: str, cfg: AnalyzerConfig) -> list[str]:
    """WAPO english chain (wapo/index_es.py:65-91): standard word tokenize
    -> possessive 's strip -> lowercase -> stoplist -> Porter. Remaining
    internal apostrophes are removed ("don't" -> "dont") for determinism."""
    from ..functions.porter import stem

    out = []
    for tok in _WORD.findall(text):
        tok = _POSSESSIVE.sub("", tok)
        tok = tok.replace("'", "").replace("’", "").lower()
        if not tok or tok in cfg.stopwords:
            continue
        out.append(stem(tok))
    return out


@dataclass
class OracleIndex:
    """In-memory inverted index: term -> {doc_id: tf}, plus doc lengths."""

    postings: dict[str, dict[int, int]]
    dl: dict[int, int]
    n_docs: int
    avgdl: float

    @classmethod
    def build(cls, docs: dict[int, str], cfg: AnalyzerConfig | None = None) -> "OracleIndex":
        postings: dict[str, dict[int, int]] = {}
        dl: dict[int, int] = {}
        for doc_id, text in docs.items():
            toks = analyze(text, cfg)
            dl[doc_id] = len(toks)
            for term, tf in Counter(toks).items():
                postings.setdefault(term, {})[doc_id] = tf
        n = len(docs)
        avg = (sum(dl.values()) / n) if n else 0.0
        return cls(postings=postings, dl=dl, n_docs=n, avgdl=avg)

    def idf(self, term: str) -> float:
        """Lucene BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5))."""
        df = len(self.postings.get(term, {}))
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def score(self, terms: list[str], doc_id: int, bm25: BM25Config | None = None) -> float:
        bm25 = bm25 or BM25Config()
        k1, b = bm25.k1, bm25.b
        s = 0.0
        dl = self.dl.get(doc_id, 0)
        for term in sorted(set(terms)):  # OR-disjunction, set semantics, fixed order
            tf = self.postings.get(term, {}).get(doc_id, 0)
            if tf == 0:
                continue
            norm = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / self.avgdl))
            s += self.idf(term) * norm
        return s

    def search(self, terms: list[str], k: int,
               bm25: BM25Config | None = None) -> list[tuple[int, float]]:
        """Exhaustive BM25 top-k. Tie-break: score desc, doc_id asc."""
        candidates: set[int] = set()
        for term in set(terms):
            candidates.update(self.postings.get(term, {}).keys())
        scored = [(d, self.score(terms, d, bm25)) for d in candidates]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

