"""Output checks against the engine's pure-Python oracle.

Every checked result either matches or counts as one failed operation.
Ranked results must match `oracle/pure.py` BM25 exactly in doc ids and
within 1e-9 in score; kinds the oracle does not rank (phrase, hybrid
knn) are checked for the properties their hits must have.
"""

from __future__ import annotations

import numpy as np

from newssearchengine_spark.oracle import pure

TOL = 1e-9


def _ranked(scored: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _same(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(abs(a - b) <= TOL for (_, a), (_, b) in zip(got, want)))


def rows_to_pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"]))
            for r in sorted(rows, key=lambda r: r["rank"])]


class Oracle:
    """Pure-Python BM25 index over the `content` of the given docs."""

    def __init__(self, docs):
        self.docs = docs.set_index("doc_id", drop=False)
        self.ix = pure.OracleIndex.build(dict(zip(docs["doc_id"],
                                                  docs["content"])))

    def match(self, text: str, k: int):
        return self.ix.search(pure.analyze(text), k)

    def check_match(self, rows, text: str, k: int) -> bool:
        return _same(rows_to_pairs(rows), self.match(text, k))

    def check_bool(self, rows, must: list[str], should: str, lang: str,
                   k: int) -> bool:
        """must = a bool `should` of one `match` per word (at least one
        matches) AND the lang filter. Like ES, the score sums the scores
        of the matching clauses (a word in two clauses counts twice):
        BM25 of each must word plus the `should` match's BM25, rounded
        6 dp."""
        ix = self.ix
        st = pure.analyze(should)
        cand = set()
        for t in must:
            cand.update(ix.postings.get(t, {}))
        langs = self.docs["lang"]
        scored = {d: round(sum(ix.score([t], d) for t in must)
                           + ix.score(st, d), 6)
                  for d in cand if langs.at[d] == lang}
        return _same(rows_to_pairs(rows), _ranked(scored, k))

    def check_phrase(self, rows, phrase: str, tokens: dict, k: int) -> bool:
        """Hits are exactly the docs holding the phrase (up to k), in
        (score desc, doc_id asc) order."""
        words = pure.analyze(phrase)
        n = len(words)
        holders = {d for d, toks in tokens.items()
                   if any(toks[i:i + n] == words
                          for i in range(len(toks) - n + 1))}
        got = rows_to_pairs(rows)
        ordered = got == sorted(got, key=lambda p: (-p[1], p[0]))
        return (ordered and len(got) == min(k, len(holders))
                and {d for d, _ in got} <= holders)

    def check_hybrid(self, rows, text: str, qvec, embeddings: dict,
                     knn_k: int, k: int) -> bool:
        """Each hit's score is its rounded BM25, plus (for at most knn_k
        hits) its rounded cosine score (1 + cos) / 2; order is
        (score desc, doc_id asc)."""
        ix = self.ix
        terms = pure.analyze(text)
        q = np.asarray(qvec, dtype=np.float64)
        q = q / np.linalg.norm(q)
        got = rows_to_pairs(rows)
        with_knn = 0
        for d, s in got:
            bm = round(ix.score(terms, d), 6)
            v = embeddings[d]
            ks = round((1.0 + float(v @ q) / float(np.linalg.norm(v))) / 2, 6)
            if abs(s - bm) <= TOL and bm > 0:
                continue
            if abs(s - round(bm + ks, 6)) <= 1e-6:
                with_knn += 1
                continue
            return False
        return (with_knn <= knn_k
                and got == sorted(got, key=lambda p: (-p[1], p[0])))

    def check_batch(self, rows, texts: dict, k: int) -> int:
        """Mismatching queries of an msearch response (query_id = body
        position)."""
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        return sum(not _same(rows_to_pairs(by_q.get(qid, [])),
                             self.match(text, k))
                   for qid, text in texts.items())
