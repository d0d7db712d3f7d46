"""Seeded, vectorized corpus and query generator owned by the benchmark.

Emits the engine's source-file schema `(doc_id, repo, path, commit, lang,
content)` plus a per-doc `embedding`. Words are drawn from a Zipf
long-tail vocabulary (rank r has probability ~ 1/r^ZIPF_S over VOCAB_SIZE
pseudo-words, each one distinct analyzed term), so document frequencies
run from nearly every doc down to singletons; most terms of a generated
corpus occur in one doc (a 300-doc, 80-word-mean corpus holds ~10^4
distinct terms). Every word is lowercase letters, length >= 3 and no code
stopword, so each emitted word is exactly one analyzed term: the
generator knows every doc's token list without running the analyzer.

All randomness comes from one `numpy.random.Generator` seeded by the
caller: the same seed gives byte-identical output. Sampling is vectorized
over the whole corpus; the only Python loop joins each doc's pieces into
its content string.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 200_000
ZIPF_S = 1.0
EMBED_DIM = 16
N_TOPICS = 32
LANG_EXT = (("py", "py"), ("java", "java"), ("js", "js"), ("go", "go"),
            ("rs", "rs"))
LANG_P = (0.35, 0.2, 0.2, 0.15, 0.1)
# separators between words: whitespace, snake_case, call and attribute
# syntax; a "" separator followed by a capitalised word is camelCase
SEPS = np.array([" ", " ", "_", ".", "(", ") ", "\n    ", " = ", ""])
SEP_P = np.array([0.3, 0.1, 0.15, 0.1, 0.1, 0.05, 0.1, 0.05, 0.05])
DOC_SCHEMA = ("doc_id bigint, repo string, path string, commit string, "
              "lang string, content string")


def vocabulary(seed: int) -> np.ndarray:
    """VOCAB_SIZE distinct lowercase pseudo-words (length 3..10), ranked:
    index r is the Zipf rank-r word. Seeded separately from the corpus so
    the word list is a property of the seed, not of the corpus size."""
    from newssearchengine_spark.config import CODE_STOPWORDS

    rng = np.random.default_rng([seed, 1])
    n = int(VOCAB_SIZE * 1.3)
    lens = rng.integers(3, 11, size=n)
    letters = rng.integers(0, 26, size=(n, 10)).astype(np.uint8) + ord("a")
    letters[np.arange(10)[None, :] >= lens[:, None]] = 0
    words = letters.view("S10").ravel().astype(str)
    _, first = np.unique(words, return_index=True)
    words = words[np.sort(first)]
    words = words[~np.isin(words, list(CODE_STOPWORDS))]
    if words.size < VOCAB_SIZE:
        raise RuntimeError("vocabulary draw too small")
    return words[:VOCAB_SIZE]


@dataclass
class Corpus:
    """A generated corpus: the doc frame plus what the checks need."""

    docs: pd.DataFrame          # doc_id, repo, path, commit, lang, content
    embeddings: np.ndarray      # (n_docs, EMBED_DIM) float64
    tokens: list[np.ndarray]    # per doc: word ranks in content order
    vocab: np.ndarray           # rank -> word

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    def input_bytes(self) -> int:
        """Characters of indexed text (the `content` column)."""
        return int(self.docs["content"].str.len().sum())

    def doc_frame(self, spark):
        """The docs as a Spark DataFrame."""
        return spark.createDataFrame(self.docs, DOC_SCHEMA)

    def spark_frame(self, spark):
        """Docs plus an `embedding` array column, as a Spark DataFrame."""
        pdf = self.docs.copy()
        pdf["embedding"] = list(self.embeddings)
        return spark.createDataFrame(
            pdf, DOC_SCHEMA + ", embedding array<double>")


def make_corpus(seed: int, n_docs: int, *, first_id: int = 0,
                mean_len: int = 120, vocab: np.ndarray | None = None
                ) -> Corpus:
    """Generate `n_docs` source files with dense ids from `first_id`.

    Doc lengths are lognormal around `mean_len` words; words are Zipf
    draws over the vocabulary (inverse-CDF, vectorized)."""
    vocab = vocabulary(seed) if vocab is None else vocab
    rng = np.random.default_rng([seed, 2, first_id])
    lens = np.clip(rng.lognormal(np.log(mean_len), 0.5, n_docs), 8, 8 * mean_len)
    lens = lens.astype(np.int64)
    cdf = np.cumsum(1.0 / np.arange(1, vocab.size + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    total = int(lens.sum())
    ranks = np.searchsorted(cdf, rng.random(total), side="right")
    ranks = np.minimum(ranks, vocab.size - 1)
    seps = rng.choice(SEPS.size, size=total, p=SEP_P)
    words = vocab[ranks]
    camel = np.concatenate(([False], SEPS[seps[:-1]] == ""))
    words = np.where(camel, np.char.capitalize(words), words)
    pieces = np.char.add(words, SEPS[seps]).tolist()
    bounds = np.concatenate(([0], np.cumsum(lens)))
    content = ["".join(pieces[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    tokens = [ranks[bounds[i]:bounds[i + 1]] for i in range(n_docs)]

    lang_ix = rng.choice(len(LANG_EXT), size=n_docs, p=LANG_P)
    # paths: 2 directory words and a file name from the head of the
    # vocabulary (a few thousand distinct names), so path matches overlap
    pw = vocab[np.minimum(rng.zipf(1.3, size=(n_docs, 3)) - 1, 4999)]
    ext = np.array([e for _, e in LANG_EXT])[lang_ix]
    path = np.char.add(np.char.add(np.char.add(np.char.add(np.char.add(
        "src/", pw[:, 0]), "/"), pw[:, 1]), np.char.add("_", pw[:, 2])),
        np.char.add(".", ext))
    repo = np.char.add("org", rng.integers(0, 50, n_docs).astype(str))
    repo = np.char.add(np.char.add(repo, "/repo"),
                       rng.integers(0, 400, n_docs).astype(str))
    commit = np.array([f"{x:016x}" for x in
                       rng.integers(0, 2**63, n_docs, dtype=np.int64)])
    docs = pd.DataFrame({
        "doc_id": np.arange(first_id, first_id + n_docs, dtype=np.int64),
        "repo": repo, "path": path, "commit": commit,
        "lang": np.array([l for l, _ in LANG_EXT])[lang_ix],
        "content": content,
    })
    centers = np.random.default_rng([seed, 3]).normal(size=(N_TOPICS, EMBED_DIM))
    topic = rng.integers(0, N_TOPICS, n_docs)
    emb = centers[topic] + 0.6 * rng.normal(size=(n_docs, EMBED_DIM))
    return Corpus(docs=docs, embeddings=emb, tokens=tokens, vocab=vocab)


def sample_phrase(corpus: Corpus, rng: np.random.Generator, n_words: int) -> str:
    """`n_words` consecutive words of a random doc (so the phrase occurs)."""
    while True:
        toks = corpus.tokens[int(rng.integers(corpus.n_docs))]
        if toks.size > n_words:
            at = int(rng.integers(0, toks.size - n_words))
            return " ".join(corpus.vocab[toks[at:at + n_words]])


def sample_terms(corpus: Corpus, rng: np.random.Generator, n: int) -> list[str]:
    """`n` words of one random doc (short queries hit related docs)."""
    toks = corpus.tokens[int(rng.integers(corpus.n_docs))]
    return [str(w) for w in corpus.vocab[rng.choice(toks, size=n)]]
