"""Gate entries for the full-text engine core over the `documents` table.

Spark side uses the engine's analyzer + BM25 operators; the DuckDB oracle
re-expresses the identical analyzer pipeline + Okapi BM25 in ANSI SQL.
Determinism contract (both sides): scores rounded to 6 dp, top-k ordered by
(rounded score desc, doc_id asc), ints cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import (ENGLISH_MIN_STOPWORDS, ENGLISH_NLTK_STOPWORDS,
                      AnalyzerConfig, BM25Config)
from ..functions.analysis import doc_term_freqs
from ..operators.bm25 import bm25_scores, term_stats
from .registry import gate_query, load

# Analyzer used for the natural-language documents table (the gate corpus).
DOCS_ANALYZER = AnalyzerConfig(stopwords=ENGLISH_MIN_STOPWORDS)

# Fixed reference query (OR-disjunction, reference builds " OR ".join(kw) at
# wapo/experiments/ranking.py:127).
QUERY_TERMS = ["hash", "merge", "spark", "table", "window"]
TOP_K = 20

_STOP_SQL = ", ".join(f"'{s}'" for s in sorted(ENGLISH_MIN_STOPWORDS))

# Shared DuckDB CTEs: the analyzer pipeline (identical regexes to
# functions/analysis.py) -> per-doc term freqs + doc lengths.
TOKENS_CTE = f"""
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(
             regexp_replace(regexp_replace(text,
                 '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
                 '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g')),
             '[^a-z0-9]+')) AS term
  FROM documents
),
kept AS (
  SELECT doc_id, term FROM toks
  WHERE length(term) >= 2
    AND regexp_full_match(term, '[a-z][a-z0-9]*')
    AND term NOT IN ({_STOP_SQL})
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM kept GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM kept GROUP BY 1)
"""


def _tf_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return doc_term_freqs(docs, text_col="text", id_col="doc_id", cfg=DOCS_ANALYZER)


# One segment index per sf_dir, shared by every indexed gate entry (the
# engine's build-once-query-many shape; rebuilding per entry would redo
# the same build 5x in a gate run).
_GATE_INDEX: dict[str, object] = {}


def _gate_index(spark: SparkSession, sf_dir: str):
    import tempfile

    from ..config import IndexConfig
    from ..plans.index_build import build_index
    from ..plans.search import SegmentIndex

    si = _GATE_INDEX.get(sf_dir)
    if si is None:
        # with_term_vectors: the forward index the MLT gate's keyword
        # extraction reads (the es.termvectors store)
        cfg = IndexConfig(n_buckets=8, doc_range=256, block_size=32,
                          analyzer=DOCS_ANALYZER, with_term_vectors=True)
        idx_dir = tempfile.mkdtemp(prefix="gate_idx_")
        # meta_cols land in the doc_store (the ES _source shape) — the
        # filter-context gates predicate on them with parquet pushdown
        build_index(load(spark, sf_dir, "documents"), idx_dir, cfg,
                    text_col="text", id_col="doc_id", resume=False,
                    meta_cols=("lang", "source", "n_chars"))
        si = SegmentIndex(spark, idx_dir)
        _GATE_INDEX[sf_dir] = si
    return si


def _rounded_topk(cand: DataFrame, k: int) -> DataFrame:
    """Re-rank a buffered top-k on the 6dp-rounded score (the oracle's
    order) with the doc_id tie-break, cut to k."""
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        cand.select((F.row_number().over(w) - 1).cast("bigint").alias("rank"),
                    "doc_id", "score")
        .filter(F.col("rank") < k)
    )


@gate_query(
    "ft_term_stats",
    f"""WITH {TOKENS_CTE}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf GROUP BY term""",
)
def ft_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY A4/T1-T5: analyzer + per-term df/cf statistics."""
    return term_stats(_tf_df(spark, sf_dir)).select(
        "term", F.col("df").cast("bigint").alias("df"),
        F.col("cf").cast("bigint").alias("cf"),
    )


@gate_query(
    "ft_doc_lengths",
    f"WITH {TOKENS_CTE} SELECT doc_id, dl FROM dl",
)
def ft_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 length norms (SURVEY A8): per-doc analyzed token count."""
    return (
        _tf_df(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.first("dl").cast("bigint").alias("dl"))
    )


@gate_query(
    "ft_corpus_stats",
    f"""WITH {TOKENS_CTE}
SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl FROM dl""",
)
def ft_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global BM25 stats (SURVEY A8): N and avgdl, computed once, broadcast."""
    dl = _tf_df(spark, sf_dir).groupBy("doc_id").agg(F.first("dl").alias("dl"))
    return dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )


def _bm25_sql(terms: list[str], k: int, bm25: BM25Config = BM25Config()) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bm25_topk", _bm25_sql(QUERY_TERMS, TOP_K))
def ft_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY K1/J6: Okapi BM25 (k1=1.2, b=0.75) OR-disjunction top-k —
    the compositional Catalyst path (the segment/WAND engine is asserted
    rank-identical to this in tests/)."""
    scores = bm25_scores(_tf_df(spark, sf_dir), QUERY_TERMS)
    scored = scores.select("doc_id", F.round("score", 6).alias("score"))
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(TOP_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
        "doc_id",
        "score",
    )


@gate_query("ft_bm25_topk_indexed", _bm25_sql(QUERY_TERMS, TOP_K))
def ft_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query as ft_bm25_topk but through the REAL engine path: build
    the compressed posting-segment index (varbyte + block-max, manifests),
    then block-max WAND search. Shares the compositional entry's DuckDB
    oracle — the engine is rank- and score-identical by construction."""
    si = _gate_index(spark, sf_dir)
    # oracle ranks by the ROUNDED score: fetch a buffered top-k, re-rank on
    # the rounded value with the same doc_id tie-break, cut to TOP_K
    cand = si.search(QUERY_TERMS, TOP_K + 20, mode="wand").select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return _rounded_topk(cand, TOP_K)


# Raw query for the full news-analyzer path: possessive strip ("hash's"
# -> hash) and Porter on inflected query forms (joins/scans/sparking/
# windows) land EXACTLY on the singleton-preimage fixed-point stems of
# _NEWS_STEM_TERMS below — so the stem-space oracle is exact for the raw
# query too (tests/test_news_analyzer.py pins the analysis).
_NEWS_RAW_QUERY = "hash's joins scans sparking windows"


# -- news-analyzer gate with a REAL hash-checked oracle -----------------
# Porter itself is not SQL-expressible, but BM25 under the news chain IS
# hash-checkable when every query term t satisfies (a) stem(t) == t and
# (b) no other corpus token stems to t: then tf/df of t in stem space
# equal plain token counts, and dl (kept-token count) is stem-invariant
# by construction. tests/test_news_analyzer.py asserts (a)+(b) hold for
# these terms over the sf0.01 vocabulary, so testdata drift fails loudly
# in pytest rather than silently in the driver.
_NEWS_STEM_TERMS = ["hash", "join", "scan", "spark", "window"]
_NLTK_STOP_SQL = ", ".join(f"'{s}'" for s in sorted(ENGLISH_NLTK_STOPWORDS))

# News tokenizer on this corpus reduces to lowercase word runs (the
# fixture text has no apostrophes — asserted in tests): standard word
# split, NLTK stoplist, no length/letter filter (wapo/index_es.py:65-91).
NEWS_TOKENS_CTE = f"""
ntoks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
nkept AS (
  SELECT doc_id, term FROM ntoks WHERE term NOT IN ({_NLTK_STOP_SQL})
),
ntf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM nkept GROUP BY 1, 2),
ndl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM nkept GROUP BY 1)
"""


def _news_stem_sql(terms: list[str], k: int,
                   bm25: BM25Config = BM25Config()) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    k1, b = bm25.k1, bm25.b
    return f"""WITH {NEWS_TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM ndl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM ntf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT ntf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (ntf.tf * ({k1} + 1)) /
             (ntf.tf + {k1} * (1 - {b} + {b} * ndl.dl / stats.avgdl)) AS p
  FROM ntf
  JOIN tstats USING (term)
  JOIN ndl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bm25_topk_news_stem", _news_stem_sql(_NEWS_STEM_TERMS, TOP_K))
def ft_bm25_topk_news_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through the FULL news analyzer (standard tokenize -> possessive
    strip -> lowercase -> NLTK stop -> Porter), hash-checked: the query
    terms are stem-invariant with singleton preimages, so the DuckDB
    oracle needs no stemmer (see _NEWS_STEM_TERMS comment). This gives the
    Porter path a driver-verified row alongside the rows-only
    ft_bm25_topk_news entry."""
    from ..config import news_analyzer

    docs = load(spark, sf_dir, "documents")
    tf = doc_term_freqs(docs, text_col="text", id_col="doc_id",
                        cfg=news_analyzer())
    scores = bm25_scores(tf, _NEWS_STEM_TERMS)
    cand = scores.select("doc_id", F.round("score", 6).alias("score"))
    return _rounded_topk(cand, TOP_K)


@gate_query("ft_bm25_topk_news", _news_stem_sql(_NEWS_STEM_TERMS, TOP_K))
def ft_bm25_topk_news(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k from a RAW query through the reference's full WAPO
    english analyzer (standard tokenize -> possessive strip -> lowercase
    -> NLTK stop -> Porter stem, wapo/index_es.py:65-91). Hash-checked
    since r4: the raw query's analyzed stems are exactly the singleton-
    preimage fixed points of ft_bm25_topk_news_stem (asserted in
    tests/test_news_analyzer.py), so the same stemmer-free oracle is
    exact while the Spark side exercises query-side possessive strip +
    Porter on inflected surface forms."""
    from ..config import news_analyzer
    from ..functions.analysis import doc_term_freqs
    from ..oracle import pure

    docs = load(spark, sf_dir, "documents")
    tf = doc_term_freqs(docs, text_col="text", id_col="doc_id",
                        cfg=news_analyzer())
    terms = pure.analyze(_NEWS_RAW_QUERY, news_analyzer())
    scores = bm25_scores(tf, terms)
    cand = scores.select("doc_id", F.round("score", 6).alias("score"))
    return _rounded_topk(cand, TOP_K)


# -- German-analyzer gate with a REAL hash-checked oracle ---------------
# Same trick as ft_bm25_topk_news_stem: the German stemmer is not SQL-
# expressible, but BM25 under the german chain IS hash-checkable because
# each query stem has a SINGLETON preimage in the (Germanified) corpus
# vocabulary: 'Tabelle'->'tabell' matches only 'tabellen',
# 'Zusammenführung'->'zusammenfuhrung' only 'zusammenführungen',
# 'Fenster'->'fenst' only 'fenstern'. So stem-space tf/df equal the
# surface tokens' plain counts, and dl (kept-token count) is
# stem-invariant. tests/test_german_analyzer.py asserts the preimage
# property over the gate corpus vocabulary so testdata drift fails loudly
# in pytest rather than silently in the driver.
_DE_STEM_SURFACES = {
    "tabell": "tabellen",
    "zusammenfuhrung": "zusammenführungen",
    "fenst": "fenstern",
}


def _de_stem_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    from ..functions.german import GERMAN_STOPWORDS

    stop_sql = ", ".join(f"'{s}'" for s in sorted(GERMAN_STOPWORDS))
    surf_sql = ", ".join(
        f"'{s}'" for s in sorted(_DE_STEM_SURFACES.values())
    )
    k1, b = bm25.k1, bm25.b
    return f"""WITH gdocs AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
             '\\btable\\b', 'Tabellen', 'g'),
             '\\bmerge\\b', 'Zusammenführungen', 'g'),
             '\\bwindow\\b', 'Fenstern', 'g') AS text
  FROM documents
),
gtoks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+')) AS term
  FROM gdocs
),
gkept AS (SELECT doc_id, term FROM gtoks WHERE term NOT IN ({stop_sql})),
gtf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM gkept GROUP BY 1, 2),
gdl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM gkept GROUP BY 1),
q AS (SELECT unnest([{surf_sql}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM gdl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM gtf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT gtf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (gtf.tf * ({k1} + 1)) /
             (gtf.tf + {k1} * (1 - {b} + {b} * gdl.dl / stats.avgdl)) AS p
  FROM gtf
  JOIN tstats USING (term)
  JOIN gdl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bm25_topk_de", _de_stem_sql(TOP_K))
def ft_bm25_topk_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 under the ES built-in `german` analyzer chain (standard
    tokenize -> lowercase -> German stop -> umlaut normalization -> light
    German stemmer), the analyzer the reference's netzpolitik corpus is
    indexed with (netzpolitik/index_es.py:56,66). The fixture corpus is
    the documents table with key tokens deterministically Germanified
    (inflected umlauted forms), so real German morphology flows through
    the chain: 'Tabellen'/'Zusammenführungen'/'Fenstern' must match the
    differently-inflected query via shared stems. HASH-CHECKED by the
    driver: the query stems have singleton surface preimages, so the
    DuckDB oracle needs no stemmer (see _DE_STEM_SURFACES; preimage
    property + ES-captured golden stems asserted in
    tests/test_german_analyzer.py)."""
    from ..config import german_analyzer
    from ..oracle import pure

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), r"\btable\b", "Tabellen"),
                r"\bmerge\b", "Zusammenführungen"),
            r"\bwindow\b", "Fenstern").alias("text"),
    )
    cfg = german_analyzer()
    tf = doc_term_freqs(docs, text_col="text", id_col="doc_id", cfg=cfg)
    terms = pure.analyze("Tabelle Zusammenführung Fenster", cfg)
    scores = bm25_scores(tf, terms)
    cand = scores.select("doc_id", F.round("score", 6).alias("score"))
    return _rounded_topk(cand, TOP_K)


def _field_ctes(expr: str, p: str, qname: str = "q") -> str:
    """Per-field analyzer + BM25-stats CTE block (same regex pipeline as
    TOKENS_CTE, parameterized by source expression, prefix, and the
    query-terms CTE — per-field term lists for the dis_max gate)."""
    return f"""
{p}toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(
             regexp_replace(regexp_replace({expr},
                 '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
                 '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g')),
             '[^a-z0-9]+')) AS term
  FROM docs2
),
{p}kept AS (
  SELECT doc_id, term FROM {p}toks
  WHERE length(term) >= 2
    AND regexp_full_match(term, '[a-z][a-z0-9]*')
    AND term NOT IN ({_STOP_SQL})
),
{p}tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM {p}kept GROUP BY 1, 2),
{p}dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM {p}kept GROUP BY 1),
{p}stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM {p}dl),
{p}tstats AS (SELECT term, count(*)::DOUBLE AS df
              FROM {p}tf JOIN {qname} USING (term) GROUP BY term),
{p}sc AS (
  SELECT tf.doc_id, sum(
           ln(1 + ({p}stats.n - {p}tstats.df + 0.5) / ({p}tstats.df + 0.5))
             * (tf.tf * ({{k1}} + 1)) /
               (tf.tf + {{k1}} * (1 - {{b}} + {{b}} * dl.dl / {p}stats.avgdl))
         ) AS score
  FROM {p}tf tf
  JOIN {p}tstats USING (term)
  JOIN {p}dl dl USING (doc_id)
  CROSS JOIN {p}stats
  GROUP BY tf.doc_id
)"""


_DISMAX_TIE = 0.3
_DISMAX_TITLE = "array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')"


def _dismax_sql(terms: list[str], k: int,
                bm25: BM25Config = BM25Config(),
                tie: float = _DISMAX_TIE) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    fields = _field_ctes(_DISMAX_TITLE, "t_") + "," + _field_ctes("text", "b_")
    fields = fields.replace("{k1}", str(bm25.k1)).replace("{b}", str(bm25.b))
    return f"""WITH docs2 AS (SELECT doc_id, text FROM documents),
q AS (SELECT unnest([{terms_sql}]) AS term),{fields},
allsc AS (
  SELECT coalesce(a.doc_id, c.doc_id) AS doc_id,
         coalesce(a.score, 0) AS s_t, coalesce(c.score, 0) AS s_b
  FROM t_sc a FULL OUTER JOIN b_sc c ON a.doc_id = c.doc_id
),
fin AS (
  SELECT doc_id,
         round(greatest(s_t, s_b)
               + {tie} * (s_t + s_b - greatest(s_t, s_b)), 6) AS score
  FROM allsc
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM fin ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bm25_dismax", _dismax_sql(QUERY_TERMS, TOP_K))
def ft_bm25_dismax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field best_fields retrieval — the reference's real query shape
    (query_string over fields [title, text], wapo/experiments/ranking.py:
    128-139; multi_match netzpolitik/experiments/keyword_match_recall.py:
    30-43). Per-field BM25 with per-field stats, DisMax combination
    max + tie_breaker * others. Title derived as the first 5 words
    (the synthetic corpus has no separate title column)."""
    from ..operators.bm25 import dismax_bm25_topk

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ")
        .alias("title"),
        F.col("text").alias("body"),
    )
    out = dismax_bm25_topk(docs, QUERY_TERMS, TOP_K,
                           fields=["title", "body"],
                           tie_breaker=_DISMAX_TIE, analyzer=DOCS_ANALYZER)
    return out.select("rank", "doc_id", F.round("score", 6).alias("score"))


# One title-field segment index per sf_dir (title = the first 5 words,
# the synthetic corpus's derived-title convention), shared by the
# multi-field indexed gates below.
_GATE_TITLE_INDEX: dict[str, object] = {}


def _gate_title_index(spark: SparkSession, sf_dir: str):
    import tempfile

    from ..config import IndexConfig
    from ..plans.index_build import build_index
    from ..plans.search import SegmentIndex

    si = _GATE_TITLE_INDEX.get(sf_dir)
    if si is None:
        cfg = IndexConfig(n_buckets=8, doc_range=256, block_size=32,
                          analyzer=DOCS_ANALYZER)
        idx_dir = tempfile.mkdtemp(prefix="gate_idx_title_")
        docs = load(spark, sf_dir, "documents").select(
            "doc_id",
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ")
            .alias("title"))
        build_index(docs, idx_dir, cfg, text_col="title",
                    id_col="doc_id", resume=False)
        si = SegmentIndex(spark, idx_dir)
        _GATE_TITLE_INDEX[sf_dir] = si
    return si


_MM_AND_TERMS = ["hash", "merge", "window"]
_MM_TIE = 0.3


def _mm_and_sql(terms: list[str], k: int,
                bm25: BM25Config = BM25Config(),
                tie: float = _MM_TIE) -> str:
    tset = sorted(set(terms))
    terms_sql = ", ".join(f"'{t}'" for t in tset)
    fields = _field_ctes(_DISMAX_TITLE, "t_") + "," + _field_ctes("text", "b_")
    fields = fields.replace("{k1}", str(bm25.k1)).replace("{b}", str(bm25.b))
    return f"""WITH docs2 AS (SELECT doc_id, text FROM documents),
q AS (SELECT unnest([{terms_sql}]) AS term),{fields},
t_must AS (SELECT doc_id FROM t_tf JOIN q USING (term)
           GROUP BY doc_id HAVING count(DISTINCT term) = {len(tset)}),
b_must AS (SELECT doc_id FROM b_tf JOIN q USING (term)
           GROUP BY doc_id HAVING count(DISTINCT term) = {len(tset)}),
ts AS (SELECT s.doc_id, s.score FROM t_sc s JOIN t_must USING (doc_id)),
bs AS (SELECT s.doc_id, s.score FROM b_sc s JOIN b_must USING (doc_id)),
allsc AS (
  SELECT coalesce(a.doc_id, c.doc_id) AS doc_id,
         coalesce(a.score, 0) AS s_t, coalesce(c.score, 0) AS s_b
  FROM ts a FULL OUTER JOIN bs c ON a.doc_id = c.doc_id
),
fin AS (
  SELECT doc_id,
         round(greatest(s_t, s_b)
               + {tie} * (s_t + s_b - greatest(s_t, s_b)), 6) AS score
  FROM allsc
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM fin ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_multimatch_and", _mm_and_sql(_MM_AND_TERMS, TOP_K))
def ft_multimatch_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match operator:'and' over [title, text] (the retired r4
    rejection): every analyzed token REQUIRED per field, per-field
    summed-BM25 (field-local stats) DisMax-combined with a tie_breaker —
    executed through the es.search adapter over two segment indexes
    (plans/search.py:search_dismax_bool per_token=True). The reference's
    ES backend serves this body via Lucene BooleanQuery-per-field inside
    DisjunctionMaxQuery."""
    from ..plans.dsl import es_search

    idxs = {"title": _gate_title_index(spark, sf_dir),
            "text": _gate_index(spark, sf_dir)}
    body = {"query": {"multi_match": {
        "fields": ["title", "text"],
        "query": " ".join(_MM_AND_TERMS),
        "operator": "and", "tie_breaker": _MM_TIE}}}
    return es_search(idxs, body, size=TOP_K)


def _multi_index_sql(terms: list[str], k: int,
                     bm25: BM25Config = BM25Config()) -> str:
    """Two independent per-index BM25 computations (each with its OWN
    N/avgdl/df — the ES per-index statistics contract), labeled and
    merged by (score desc, idx asc, doc_id asc) at 6dp."""
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    fields = (_field_ctes(_DISMAX_TITLE, "t_") + ","
              + _field_ctes("text", "b_"))
    fields = fields.replace("{k1}", str(bm25.k1)).replace(
        "{b}", str(bm25.b))
    return f"""WITH docs2 AS (SELECT doc_id, text FROM documents),
q AS (SELECT unnest([{terms_sql}]) AS term),{fields},
lab AS (
  SELECT 'title' AS idx, doc_id, round(score, 6) AS score FROM t_sc
  UNION ALL
  SELECT 'text' AS idx, doc_id, round(score, 6) AS score FROM b_sc
)
SELECT (row_number() OVER (ORDER BY score DESC, idx ASC, doc_id ASC)
        - 1)::BIGINT AS rank, idx, doc_id, score
FROM lab ORDER BY score DESC, idx ASC, doc_id ASC LIMIT {k}"""


@gate_query("ft_multi_index", _multi_index_sql(QUERY_TERMS, TOP_K))
def ft_multi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi-INDEX search (GET /idx1,idx2/_search) — the surface
    unifying the reference's per-corpus indexes (it keeps netzpolitik
    and wapo as SEPARATE ES indexes, netzpolitik/index_es.py +
    wapo/index_es.py, and queries them one at a time): one body against
    two segment indexes, per-index BM25 statistics, hits labeled with
    their index, coordinating merge by (score desc, idx, doc_id) —
    plans/dsl.py:es_search_indices."""
    from ..plans.dsl import es_search_indices

    indices = {"title": _gate_title_index(spark, sf_dir),
               "text": _gate_index(spark, sf_dir)}
    body = {"query": {"match": {"content": " ".join(QUERY_TERMS)}}}
    return es_search_indices(indices, body, size=TOP_K)


def _phrase_field_ctes(expr: str, p: str, phrase: list[str],
                       bm25: BM25Config = BM25Config()) -> str:
    """Per-field phrase-BM25 CTE block (tokenize the field, count
    consecutive phrase occurrences, score with the FIELD's own
    N/avgdl/phrase-df — the engine's search_phrase convention,
    unrounded so the DisMax combine rounds once, as search._dismax
    does)."""
    n = len(phrase)
    hit = " AND ".join(f"toks[i+{j}] = '{t}'" for j, t in enumerate(phrase))
    k1, b = bm25.k1, bm25.b
    return f"""
{p}tokl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(
      regexp_replace(regexp_replace({expr},
          '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
          '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g')), '[^a-z0-9]+'),
      t -> length(t) >= 2 AND regexp_full_match(t, '[a-z][a-z0-9]*')
           AND t NOT IN ({_STOP_SQL})) AS toks
  FROM docs2
),
{p}occ AS (
  SELECT doc_id, len(toks)::BIGINT AS dl,
         CASE WHEN len(toks) >= {n} THEN
           len(list_filter(range(1, len(toks) - {n} + 2), i -> {hit}))
         ELSE 0 END::BIGINT AS occ
  FROM {p}tokl WHERE len(toks) > 0
),
{p}stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
         count(*) FILTER (occ > 0)::DOUBLE AS dfp
  FROM {p}occ
),
{p}sc AS (
  SELECT o.doc_id,
         ln(1 + (s.n - s.dfp + 0.5) / (s.dfp + 0.5))
               * (o.occ * ({k1} + 1)) /
                 (o.occ + {k1} * (1 - {b} + {b} * o.dl / s.avgdl)) AS score
  FROM {p}occ o CROSS JOIN {p}stats s
  WHERE o.occ > 0
)"""


_MM_PHRASE = ["table", "scan"]


def _mm_phrase_sql(phrase: list[str], k: int,
                   tie: float = _MM_TIE) -> str:
    fields = (_phrase_field_ctes(_DISMAX_TITLE, "t_", phrase) + ","
              + _phrase_field_ctes("text", "b_", phrase))
    return f"""WITH docs2 AS (SELECT doc_id, text FROM documents),{fields},
allsc AS (
  SELECT coalesce(a.doc_id, c.doc_id) AS doc_id,
         coalesce(a.score, 0) AS s_t, coalesce(c.score, 0) AS s_b
  FROM t_sc a FULL OUTER JOIN b_sc c ON a.doc_id = c.doc_id
),
fin AS (
  SELECT doc_id,
         round(greatest(s_t, s_b)
               + {tie} * (s_t + s_b - greatest(s_t, s_b)), 6) AS score
  FROM allsc
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM fin ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_multimatch_phrase", _mm_phrase_sql(_MM_PHRASE, TOP_K))
def ft_multimatch_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match type:'phrase' over [title, text] (the retired r4
    rejection): a match_phrase per field over each field's positional
    sidecar, per-field phrase BM25 (occurrence tf, phrase df, field
    stats) DisMax-combined — the es.search adapter over two segment
    indexes (plans/search.py:search_dismax_phrase)."""
    from ..plans.dsl import es_search

    idxs = {"title": _gate_title_index(spark, sf_dir),
            "text": _gate_index(spark, sf_dir)}
    body = {"query": {"multi_match": {
        "fields": ["title", "text"],
        "query": " ".join(_MM_PHRASE),
        "type": "phrase", "tie_breaker": _MM_TIE}}}
    return es_search(idxs, body, size=TOP_K)


_TFIDF_MIN_TF = 2
_TFIDF_MIN_DF = 5
_TFIDF_TOP_N = 3


@gate_query(
    "ft_tfidf_keywords",
    f"""WITH {TOKENS_CTE},
stats AS (SELECT count(*)::DOUBLE AS n FROM dl),
tdf AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5)), 6) AS kscore
  FROM tf JOIN tdf USING (term) CROSS JOIN stats
  WHERE tf.tf >= {_TFIDF_MIN_TF} AND tdf.df >= {_TFIDF_MIN_DF}
),
ranked AS (
  SELECT doc_id, term, kscore,
         row_number() OVER (PARTITION BY doc_id ORDER BY kscore DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, kscore FROM ranked WHERE rn <= {_TFIDF_TOP_N}""",
)
def ft_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY A5: per-doc tf-idf top-terms with tf/df thresholds — the
    reference's keyword extraction (ES termvectors filter, wapo/parser.py:16-36:
    body min_term_freq=2, min_doc_freq=5). Window top-k after pushed-down
    tf/df predicates."""
    tf = _tf_df(spark, sf_dir)
    tdf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("doc_id").distinct().count()
    scored = (
        tf.join(F.broadcast(tdf.filter(F.col("df") >= _TFIDF_MIN_DF)), "term")
        .filter(F.col("tf") >= _TFIDF_MIN_TF)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(
                    F.lit(1.0)
                    + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ),
                6,
            ).alias("kscore"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("kscore"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_TOP_N)
        .select("doc_id", "term", "kscore")
    )


_PHRASE = ["table", "scan"]


def _phrase_sql(phrase: list[str], k: int,
                bm25: BM25Config = BM25Config()) -> str:
    n = len(phrase)
    hit = " AND ".join(f"toks[i+{j}] = '{t}'" for j, t in enumerate(phrase))
    k1, b = bm25.k1, bm25.b
    return f"""WITH tokl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(
      regexp_replace(regexp_replace(text,
          '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
          '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g')), '[^a-z0-9]+'),
      t -> length(t) >= 2 AND regexp_full_match(t, '[a-z][a-z0-9]*')
           AND t NOT IN ({_STOP_SQL})) AS toks
  FROM documents
),
occ AS (
  SELECT doc_id, len(toks)::BIGINT AS dl,
         CASE WHEN len(toks) >= {n} THEN
           len(list_filter(range(1, len(toks) - {n} + 2), i -> {hit}))
         ELSE 0 END::BIGINT AS occ
  FROM tokl WHERE len(toks) > 0
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
         count(*) FILTER (occ > 0)::DOUBLE AS dfp
  FROM occ
),
sc AS (
  SELECT o.doc_id,
         round(ln(1 + (s.n - s.dfp + 0.5) / (s.dfp + 0.5))
               * (o.occ * ({k1} + 1)) /
                 (o.occ + {k1} * (1 - {b} + {b} * o.dl / s.avgdl)), 6) AS score
  FROM occ o CROSS JOIN stats s
  WHERE o.occ > 0
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _phrase_dual_sql(phrase: list[str], k: int) -> str:
    base = _phrase_sql(phrase, k)
    return f"""SELECT 'indexed' AS path, * FROM ({base})
UNION ALL
SELECT 'taat' AS path, * FROM ({base})"""


@gate_query("ft_phrase_bm25", _phrase_dual_sql(_PHRASE, TOP_K))
def ft_phrase_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase retrieval (ES match_phrase surface) through BOTH engine
    paths, labeled and unioned so one hash check proves each matches the
    oracle AND the other: 'taat' = compositional higher-order Catalyst
    matching (sequence/filter/element_at, codegen'd, no index needed);
    'indexed' = consecutive-position matching over the positional
    postings sidecar (no corpus re-scan — the 10^12-file path)."""
    from ..operators.bm25 import phrase_bm25_topk

    docs = load(spark, sf_dir, "documents")
    taat = phrase_bm25_topk(docs, _PHRASE, TOP_K, text_col="text",
                            id_col="doc_id", analyzer=DOCS_ANALYZER).select(
        F.lit("taat").alias("path"),
        "rank", "doc_id", F.round("score", 6).alias("score"),
    )
    si = _gate_index(spark, sf_dir)
    idxp = _rounded_topk(
        si.search_phrase(_PHRASE, TOP_K).select("doc_id", "score"), TOP_K
    ).select(F.lit("indexed").alias("path"), "rank", "doc_id", "score")
    return idxp.unionByName(taat)


def _phrase_slop_sql(phrase: list[str], slop: int, k: int,
                     bm25: BM25Config = BM25Config()) -> str:
    """DuckDB oracle for SLOPPY phrase BM25 (distinct terms): a doc
    matches iff some per-term position choice has offset-shifted span
    <= slop; tf = count of DISTINCT term-0 positions with a completing
    choice (the engine's participating-start convention); scoring =
    the exact-phrase BM25 (idf over phrase df)."""
    m = len(phrase)
    k1, b = bm25.k1, bm25.b
    pos_cols = ",\n         ".join(
        f"list_filter(range(1, len(toks)+1), i -> toks[i] = '{t}') AS pos{j}"
        for j, t in enumerate(phrase))
    unnests = "\n".join(
        f"p{j} AS (SELECT doc_id, unnest(pos{j}) AS p FROM posl),"
        for j in range(m))
    joins = " ".join(f"JOIN p{j} a{j} ON a0.doc_id = a{j}.doc_id"
                     for j in range(1, m))
    shifted = ", ".join(f"a{j}.p - {j}" for j in range(m))
    return f"""WITH tokl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(
      regexp_replace(regexp_replace(text,
          '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
          '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g')), '[^a-z0-9]+'),
      t -> length(t) >= 2 AND regexp_full_match(t, '[a-z][a-z0-9]*')
           AND t NOT IN ({_STOP_SQL})) AS toks
  FROM documents
),
posl AS (
  SELECT doc_id, len(toks)::BIGINT AS dl, {pos_cols}
  FROM tokl WHERE len(toks) > 0
),
{unnests}
starts AS (
  SELECT DISTINCT a0.doc_id, a0.p
  FROM p0 a0 {joins}
  WHERE greatest({shifted}) - least({shifted}) <= {slop}
),
occ AS (
  SELECT s.doc_id, any_value(pl.dl) AS dl, count(*)::BIGINT AS occ
  FROM starts s JOIN posl pl USING (doc_id) GROUP BY s.doc_id
),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM posl),
dfp AS (SELECT count(*)::DOUBLE AS v FROM occ),
sc AS (
  SELECT o.doc_id,
         round(ln(1 + (s.n - d.v + 0.5) / (d.v + 0.5))
               * (o.occ * ({k1} + 1)) /
                 (o.occ + {k1} * (1 - {b} + {b} * o.dl / s.avgdl)), 6) AS score
  FROM occ o CROSS JOIN stats s CROSS JOIN dfp d
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_SLOP_2T = (["scan", "table"], 2)   # transposed pair — slop pays the
                                    # Lucene transposition cost of 2
_SLOP_3T = (["sort", "merge", "join"], 3)  # m=3 exercises the m-way sweep


@gate_query(
    "ft_phrase_slop",
    f"""SELECT 'scan_table_s2' AS case, * FROM ({_phrase_slop_sql(*_SLOP_2T, TOP_K)})
UNION ALL
SELECT 'sort_merge_join_s3' AS case, * FROM ({_phrase_slop_sql(*_SLOP_3T, TOP_K)})""",
)
def ft_phrase_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLOPPY phrase retrieval (ES match_phrase slop>0 — the r4 adapter
    rejection retired): Lucene's acceptance (offset-shifted span <=
    slop; a transposed pair costs 2) over the positional sidecar, tf =
    the engine's closed-form participating-start convention
    (plans/search.py:_make_sloppy_phrase_matcher — equals the exact
    count at slop=0, pytest-pinned vs a product-enumeration oracle).
    Two cases in one hash: the TRANSPOSED pair 'scan table'~2 (matches
    docs saying 'table scan') and a 3-term 'sort merge join'~3
    (exercises the m-way window sweep)."""
    si = _gate_index(spark, sf_dir)
    a = _rounded_topk(
        si.search_phrase(_SLOP_2T[0], TOP_K, slop=_SLOP_2T[1])
        .select("doc_id", "score"), TOP_K
    ).select(F.lit("scan_table_s2").alias("case"), "rank", "doc_id", "score")
    b = _rounded_topk(
        si.search_phrase(_SLOP_3T[0], TOP_K, slop=_SLOP_3T[1])
        .select("doc_id", "score"), TOP_K
    ).select(F.lit("sort_merge_join_s3").alias("case"),
             "rank", "doc_id", "score")
    return a.unionByName(b)


@gate_query("ft_phrase_bm25_indexed", _phrase_sql(_PHRASE, TOP_K))
def ft_phrase_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase retrieval as an INDEX operation: consecutive-position
    matching over the positional postings sidecar (delta+varbyte positions
    per posting — what ES stores for term_vector:'yes',
    /root/reference/wapo/index_es.py:99), no corpus re-scan. Shares the
    compositional entry's oracle: the two paths are rank- and
    score-identical (also asserted in tests/test_segment_index.py)."""
    si = _gate_index(spark, sf_dir)
    cand = si.search_phrase(_PHRASE, TOP_K).select(
        "doc_id", F.col("score")
    )
    return _rounded_topk(cand, TOP_K)


_PREFIX = "sc"
_PREFIX_MAX_EXP = 3


def _prefix_sql(prefix: str, max_exp: int, k: int,
                bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
alldf AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
q AS (SELECT term FROM alldf WHERE term LIKE '{prefix}%'
      ORDER BY df DESC, term ASC LIMIT {max_exp}),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_prefix_bm25", _prefix_sql(_PREFIX, _PREFIX_MAX_EXP, TOP_K))
def ft_prefix_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix query (ES `prefix` surface) through the REAL engine: build
    the segment index, expand the prefix against the term dictionary
    (df-desc order, capped at max_expansions like ES), then BM25 over the
    expansion. Oracle re-derives the same expansion with LIKE + LIMIT."""
    si = _gate_index(spark, sf_dir)
    cand = si.search_prefix(_PREFIX, TOP_K + 20,
                            max_expansions=_PREFIX_MAX_EXP).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return _rounded_topk(cand, TOP_K)


_FUZZY_TERM = "tabel"   # misspelling of 'table' (distance 2: standard
_FUZZY_EDITS = 2        # Levenshtein counts a transposition as 2 edits)
_FUZZY_MAX_EXP = 5


def _fuzzy_sql(term: str, max_edits: int, max_exp: int, k: int,
               bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
alldf AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
q AS (SELECT term FROM (
        SELECT term, df, levenshtein(term, '{term}') AS dist FROM alldf
      ) WHERE dist <= {max_edits}
      ORDER BY dist ASC, df DESC, term ASC LIMIT {max_exp}),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_fuzzy_bm25",
            _fuzzy_sql(_FUZZY_TERM, _FUZZY_EDITS, _FUZZY_MAX_EXP, TOP_K))
def ft_fuzzy_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy query (ES `fuzzy` surface) through the REAL engine: expand a
    misspelled term against the dictionary by Levenshtein distance
    (distance asc, df desc; capped like ES max_expansions), then BM25 over
    the expansion. Oracle re-derives the expansion with DuckDB's
    levenshtein (both engines count standard Levenshtein edits)."""
    si = _gate_index(spark, sf_dir)
    cand = si.search_fuzzy(_FUZZY_TERM, TOP_K + 20, max_edits=_FUZZY_EDITS,
                           max_expansions=_FUZZY_MAX_EXP).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return _rounded_topk(cand, TOP_K)


_BOOL_MUST = ["table", "merge"]
_BOOL_SHOULD = ["spark", "window"]
_BOOL_NOT = ["customer"]


def _bool_sql(must: list[str], should: list[str], must_not: list[str],
              k: int, bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    sc_terms = ", ".join(f"'{t}'" for t in sorted(set(must) | set(should)))
    must_terms = ", ".join(f"'{t}'" for t in sorted(set(must)))
    not_terms = ", ".join(f"'{t}'" for t in sorted(set(must_not)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{sc_terms}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc0 AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id),
mok AS (
  SELECT doc_id FROM tf WHERE term IN ({must_terms})
  GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(must))}
),
sc AS (
  SELECT s.doc_id, s.score FROM sc0 s
  JOIN mok USING (doc_id)
  WHERE s.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ({not_terms}))
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bool_bm25",
            _bool_sql(_BOOL_MUST, _BOOL_SHOULD, _BOOL_NOT, TOP_K))
def ft_bool_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `bool` query composition: must (AND constraint), should (score
    boost), must_not (exclusion), scored by summed BM25 of must+should.
    All Catalyst: broadcast term sets, one aggregation for the must-count
    constraint (left_semi), left_anti for exclusion."""
    from ..operators.bm25 import bool_bm25_topk

    docs = load(spark, sf_dir, "documents")
    out = bool_bm25_topk(docs, must=_BOOL_MUST, should=_BOOL_SHOULD,
                         must_not=_BOOL_NOT, k=TOP_K, text_col="text",
                         analyzer=DOCS_ANALYZER)
    return out.select("rank", "doc_id", F.round("score", 6).alias("score"))


# -- ES match with operator:'and' (every analyzed token required) --------
_MAND_QUERY = "table merge"
_MAND_TERMS = ["merge", "table"]


def _match_and_sql(terms: list[str], k: int,
                   bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    ts = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{ts}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc0 AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id),
mok AS (
  SELECT doc_id FROM tf WHERE term IN ({ts})
  GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(terms))}
),
sc AS (SELECT s.doc_id, s.score FROM sc0 s JOIN mok USING (doc_id))
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_match_and", _match_and_sql(_MAND_TERMS, TOP_K))
def ft_match_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match with operator:'and' through the adapter: the object-form
    match option that changes the MATCH SET (every analyzed token
    required; scoring stays the summed BM25 of all tokens). Routed to
    search_bool with one must clause per token — dropping the operator
    silently would return OR hits, a wrong answer, so the adapter now
    honors it (object-form oracle parity in tests/test_es_dsl.py)."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"match": {"text": {
        "query": _MAND_QUERY, "operator": "and"}}}}
    return es_search(si, body, size=TOP_K)


_MIXED_GROUPS = [["table", "merge"], ["window", "customer"]]


def _mixed_sql(groups: list[list[str]], k: int,
               bm25: BM25Config = BM25Config()) -> str:
    """OR of AND-groups (ES mixed AND/OR query_string under
    AND-binds-tighter precedence): a doc matches if it contains every
    term of at least one group; score = sum over its matched groups of
    the group's summed BM25 partials (a term in several matched groups
    counts once per group — Lucene should-clause sum semantics)."""
    k1, b = bm25.k1, bm25.b
    all_terms = sorted({t for g in groups for t in g})
    sc_terms = ", ".join(f"'{t}'" for t in all_terms)
    group_ctes, group_sels = [], []
    for i, g in enumerate(groups):
        terms = ", ".join(f"'{t}'" for t in sorted(set(g)))
        group_ctes.append(
            f"g{i} AS (SELECT doc_id FROM tf WHERE term IN ({terms}) "
            f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(g))})"
        )
        group_sels.append(
            f"SELECT p.doc_id, p.p FROM parts p "
            f"JOIN g{i} USING (doc_id) WHERE p.term IN ({terms})"
        )
    groups_sql = ",\n".join(group_ctes)
    union_sql = " UNION ALL ".join(group_sels)
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{sc_terms}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
{groups_sql},
u AS ({union_sql}),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM u GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_mixed_bm25", _mixed_sql(_MIXED_GROUPS, TOP_K))
def ft_mixed_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES mixed AND/OR query_string ('table AND merge OR window AND
    customer', AND binds tighter) through the REAL engine: one pruned
    segment scan, per-part group intersection + candidate-restricted
    accumulation (plans.search.search_mixed / _make_groups_taat) — the
    r4 VERDICT's remaining DSL edge, now executed instead of rejected."""
    si = _gate_index(spark, sf_dir)
    groups = [[[t] for t in g] for g in _MIXED_GROUPS]
    return si.search_mixed(groups, TOP_K).select("rank", "doc_id", "score")


# ES body-level highlight: the whole es.search round trip — ranked match
# query off the index, _source fetch (broadcast join of the k hits
# against the corpus scan; the index stores only the content sha256),
# term tagging + first-match fragment. Oracle = the BM25 top-k CTE
# joined to documents with the same (DuckDB-validated) regexes.
_ESHL_TERMS = ["merge", "table"]


def _es_highlight_sql(k: int) -> str:
    alt = "|".join(sorted(_ESHL_TERMS))
    return rf"""SELECT tk.rank, tk.doc_id, tk.score,
       regexp_replace(d.text, '(?i)\b({alt})\b', '<em>\1</em>', 'g')
         AS highlighted,
       regexp_extract(d.text,
         '(?i)((?:\S+\s+){{0,3}}(?:{alt})(?:\s+\S+){{0,3}})', 1)
         AS fragment
FROM ({_bm25_sql(_ESHL_TERMS, k)}) tk
JOIN documents d USING (doc_id)
ORDER BY tk.rank"""


@gate_query("ft_es_highlight", _es_highlight_sql(TOP_K))
def ft_es_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `highlight` through the whole adapter: a match body with a
    top-level highlight key runs the indexed BM25 top-k, broadcast-joins
    the k hits against the corpus (_source fetch), and appends
    `highlighted` (every whole-word term occurrence tagged) and
    `fragment` (first match ± 3 words of context) via the Catalyst
    regex operator (operators.text.highlight)."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    body = {"query": {"match": {"text": " ".join(_ESHL_TERMS)}},
            "highlight": {"fields": {"text": {}}}}
    return es_search(si, body, size=TOP_K, source=docs)


# ES _msearch: N bodies -> ONE search_many pass (postings decoded once
# per term across the whole batch). Oracle = per-body BM25 top-k CTEs
# labeled by the responses-array position and unioned.
_MS_Q = [["merge", "table"], ["spark", "window"], ["hash"]]


def _es_msearch_sql(k: int) -> str:
    parts = [
        f"SELECT '{i}' AS query_id, rank, doc_id, score "
        f"FROM ({_bm25_sql(terms, k)})"
        for i, terms in enumerate(_MS_Q)
    ]
    return "\nUNION ALL\n".join(parts)


@gate_query("ft_es_msearch", _es_msearch_sql(TOP_K))
def ft_es_msearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `_msearch` through the adapter: three match bodies evaluated
    in ONE SegmentIndex.search_many job (per-part postings decoded once
    for the whole batch), each query's block rank/score-identical to
    its own single search."""
    from ..plans.dsl import es_msearch

    si = _gate_index(spark, sf_dir)
    bodies = [{"query": {"match": {"text": " ".join(t)}}} for t in _MS_Q]
    return es_msearch(si, bodies, size=TOP_K).select(
        "query_id", "rank", "doc_id", "score")


# ES _count: matched-doc count, no ranking — membership sets only.
def _es_count_sql() -> str:
    return f"""WITH {TOKENS_CTE},
m1 AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'table'),
m2 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('spark', 'window'))
SELECT count(*)::BIGINT AS count
FROM m1 JOIN m2 USING (doc_id)
WHERE doc_id NOT IN (
  SELECT DISTINCT doc_id FROM tf WHERE term = 'customer')"""


@gate_query("ft_es_count", _es_count_sql())
def ft_es_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `_count` for a nested bool body: docs with 'table' AND
    ('spark' OR 'window'), NOT 'customer'. The count reads the COMPLETE
    single-scan tree relation (no top-k truncation, no scoring tail) —
    postings membership only."""
    from ..plans.dsl import es_count

    si = _gate_index(spark, sf_dir)
    body = {"query": {"bool": {
        "must": [{"match": {"text": "table"}},
                 {"bool": {"should": [{"match": {"text": "spark"}},
                                      {"match": {"text": "window"}}],
                           "minimum_should_match": 1}}],
        "must_not": [{"match": {"text": "customer"}}]}}}
    return es_count(si, body)


# ES rescore: cheap base retrieval re-ranked by a second query over the
# top window only (qw*base + rw*rescore), ES's two-phase ranking shape.
_RES_BASE = ["merge", "table"]
_RES_RQ = ["spark", "window"]
_RES_WINDOW = 15
_RES_QW, _RES_RW = 1.0, 2.0


def _es_rescore_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    bt = ", ".join(f"'{t}'" for t in sorted(set(_RES_BASE)))
    rt = ", ".join(f"'{t}'" for t in sorted(set(_RES_RQ)))
    return f"""WITH {TOKENS_CTE},
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q0 AS (SELECT unnest([{bt}]) AS term),
ts0 AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q0 USING (term) GROUP BY term),
p0 AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - ts0.df + 0.5) / (ts0.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf JOIN ts0 USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
base AS (
  SELECT doc_id, round(sum(p), 6) AS score FROM p0 GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {_RES_WINDOW}
),
q1 AS (SELECT unnest([{rt}]) AS term),
ts1 AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q1 USING (term) GROUP BY term),
p1 AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - ts1.df + 0.5) / (ts1.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf JOIN ts1 USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
rp AS (SELECT p1.doc_id, sum(p1.p) AS s FROM p1
       JOIN base USING (doc_id) GROUP BY p1.doc_id),
comb AS (
  SELECT b.doc_id,
         round({_RES_QW} * b.score + {_RES_RW} * coalesce(rp.s, 0), 6)
           AS score
  FROM base b LEFT JOIN rp USING (doc_id)
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM comb ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_es_rescore", _es_rescore_sql(_RES_WINDOW))
def ft_es_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rescore` through the adapter: base BM25 top-window re-ranked
    by qw*base + rw*rescore_query — the rescoring restricted to the
    window's docs via the rank-safe pruned-scan primitive, never the
    full match set."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {
        "query": {"match": {"text": " ".join(_RES_BASE)}},
        "rescore": {
            "window_size": _RES_WINDOW,
            "query": {
                "rescore_query": {"match": {"text": " ".join(_RES_RQ)}},
                "query_weight": _RES_QW,
                "rescore_query_weight": _RES_RW,
            },
        },
    }
    return es_search(si, body, size=_RES_WINDOW)


# ES collapse: one hit per distinct doc-store field value (best of each
# group), exact over the ENTIRE match set.
_COL_TERMS = ["merge", "table"]


def _es_collapse_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    ct = ", ".join(f"'{t}'" for t in sorted(set(_COL_TERMS)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{ct}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf JOIN tstats USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id),
j AS (SELECT sc.doc_id, sc.score, d.lang FROM sc
      JOIN documents d USING (doc_id)),
best AS (
  SELECT doc_id, score, lang FROM (
    SELECT *, row_number() OVER (PARTITION BY lang
                                 ORDER BY score DESC, doc_id ASC) AS rn
    FROM j) WHERE rn = 1
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score, lang
FROM best ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_es_collapse", _es_collapse_sql(TOP_K))
def ft_es_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `collapse` through the adapter: best hit per `lang` value over
    the whole match set (complete score relation + doc_store (doc_id,
    lang) projection + one window per group), top-k of the winners."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"match": {"text": " ".join(_COL_TERMS)}},
            "collapse": {"field": "lang"}}
    return es_search(si, body, size=TOP_K)


# ES term suggester: dictionary spell correction by edit distance.
_SUG_TEXT = "tble mrge"


def _es_suggest_sql() -> str:
    return f"""WITH {TOKENS_CTE},
dict AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
tok AS (SELECT unnest(['mrge', 'tble']) AS token),
cand AS (
  SELECT t.token, d.term AS option,
         levenshtein(d.term, t.token)::INT AS dist, d.df AS freq
  FROM dict d CROSS JOIN tok t
  WHERE levenshtein(d.term, t.token) <= 1 AND d.term <> t.token
)
SELECT 'fix' AS suggest, token, option, dist, freq FROM (
  SELECT *, row_number() OVER (PARTITION BY token
            ORDER BY dist ASC, freq DESC, option ASC) AS rn
  FROM cand) WHERE rn <= 5
UNION ALL
SELECT 'auto', 's', term, 0, df FROM (
  SELECT term, df FROM dict WHERE term LIKE 's%'
  ORDER BY df DESC, term ASC LIMIT 4)"""


@gate_query("ft_es_suggest", _es_suggest_sql())
def ft_es_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES term suggester: misspelled tokens ('tble', 'mrge') corrected
    from the index dictionary by Levenshtein distance (dist asc, doc
    freq desc), suggest_mode 'missing' — the es.suggest endpoint as one
    relation off the term_stats scan."""
    from ..plans.dsl import es_suggest

    si = _gate_index(spark, sf_dir)
    body = {"suggest": {"fix": {"text": _SUG_TEXT,
                                "term": {"field": "text", "max_edits": 1,
                                         "size": 5}},
                        "auto": {"prefix": "s",
                                 "completion": {"field": "text",
                                                "size": 4}}}}
    return es_suggest(si, body)


# NESTED bool: bool clauses inside must/should at depth — the general ES
# composition (a nested child scores only when the CHILD matches as a
# whole). must = table AND (spark OR window); should-booster = (merge AND
# join) adds its summed BM25 only where BOTH are present; must_not =
# customer.
_BN_MUST1 = "table"
_BN_NESTED_SHOULD = ["spark", "window"]
_BN_BOOSTER = ["join", "merge"]
_BN_NOT = "customer"


def _bool_nested_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    sc = sorted({_BN_MUST1, *_BN_NESTED_SHOULD, *_BN_BOOSTER})
    sc_terms = ", ".join(f"'{t}'" for t in sc)
    ns_terms = ", ".join(f"'{t}'" for t in sorted(_BN_NESTED_SHOULD))
    bo_terms = ", ".join(f"'{t}'" for t in sorted(set(_BN_BOOSTER)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{sc_terms}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
m1 AS (SELECT DISTINCT doc_id FROM tf WHERE term = '{_BN_MUST1}'),
m2 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({ns_terms})),
booster AS (
  SELECT doc_id FROM tf WHERE term IN ({bo_terms})
  GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(_BN_BOOSTER))}
),
contrib AS (
  SELECT doc_id, p FROM parts WHERE term IN ('{_BN_MUST1}', {ns_terms})
  UNION ALL
  SELECT p.doc_id, p.p FROM parts p JOIN booster USING (doc_id)
  WHERE p.term IN ({bo_terms})
),
sc AS (
  SELECT c.doc_id, round(sum(c.p), 6) AS score
  FROM contrib c
  JOIN m1 USING (doc_id)
  JOIN m2 USING (doc_id)
  WHERE c.doc_id NOT IN (
    SELECT DISTINCT doc_id FROM tf WHERE term = '{_BN_NOT}')
  GROUP BY c.doc_id
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bool_nested", _bool_nested_sql(TOP_K))
def ft_bool_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED ES bool through the real index (search_bool_tree): must =
    [table, bool(should=[spark, window], msm=1)], should =
    [bool(must=[join, merge])], must_not = [customer]. The booster
    child's BM25 sum counts ONLY for docs containing BOTH its terms —
    the per-child match gate a flat term-set bool can't express. Plan:
    the clause rows of every leaf off the pruned segment scan, one
    numpy evaluator of the whole tree, shared ranked tail."""
    si = _gate_index(spark, sf_dir)
    node = {
        "must": [[_BN_MUST1],
                 {"should": [[t] for t in _BN_NESTED_SHOULD],
                  "minimum_should_match": 1}],
        "should": [{"must": [[t] for t in _BN_BOOSTER]}],
        "must_not": [[_BN_NOT]],
    }
    return si.search_bool_tree(node, TOP_K).select(
        "rank", "doc_id", "score")


# ES bool FILTER CONTEXT (the reference's publish-date/metadata cut
# shape, e.g. wapo/experiments/filter_by_time.py as an ES range filter):
# filters constrain hits but contribute NO score.
_BF_MUST = ["table"]
_BF_SHOULD = ["spark", "window"]
_BF_NOT = ["customer"]
_BF_FTERMS = ["join", "merge"]          # term filter clause (any-of)
_BF_LANG = "en"
_BF_NCHARS = (150, 500)                 # gte, lt


def _bool_filter_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    sc_terms = ", ".join(
        f"'{t}'" for t in sorted(set(_BF_MUST) | set(_BF_SHOULD)))
    must_terms = ", ".join(f"'{t}'" for t in sorted(set(_BF_MUST)))
    not_terms = ", ".join(f"'{t}'" for t in sorted(set(_BF_NOT)))
    f_terms = ", ".join(f"'{t}'" for t in sorted(set(_BF_FTERMS)))
    lo, hi = _BF_NCHARS
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{sc_terms}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc0 AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id),
mok AS (
  SELECT doc_id FROM tf WHERE term IN ({must_terms})
  GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(_BF_MUST))}
),
fterm AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({f_terms})),
meta AS (SELECT doc_id FROM documents
         WHERE lang = '{_BF_LANG}' AND n_chars >= {lo} AND n_chars < {hi}),
sc AS (
  SELECT s.doc_id, s.score FROM sc0 s
  JOIN mok USING (doc_id)
  JOIN fterm USING (doc_id)
  JOIN meta USING (doc_id)
  WHERE s.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ({not_terms}))
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bool_filter_bm25", _bool_filter_sql(TOP_K))
def ft_bool_filter_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool with FILTER CONTEXT through the REAL engine: must +
    should score as usual; a term filter clause (any-of, non-scoring)
    and two metadata filters (term on lang, range on n_chars — parquet-
    pushed doc_store predicates) constrain the hits BEFORE the top-k
    cut. Exercises plans.search.search_bool's pruned regime with the
    candidate->metadata broadcast semi-join refine."""
    si = _gate_index(spark, sf_dir)
    out = si.search_bool(
        must=[[t] for t in _BF_MUST], should=_BF_SHOULD,
        must_not=_BF_NOT, k=TOP_K,
        filter=[
            _BF_FTERMS,
            {"term": {"lang": _BF_LANG}},
            {"range": {"n_chars": {"gte": _BF_NCHARS[0],
                                   "lt": _BF_NCHARS[1]}}},
        ],
    )
    return out.select("rank", "doc_id", "score")


_ZS_SHOULD = ["spark"]
_ZS_LANG = "fr"
_ZS_NCHARS_LT = 200


def _zero_score_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    sc_terms = ", ".join(f"'{t}'" for t in sorted(set(_ZS_SHOULD)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{sc_terms}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc0 AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id),
meta AS (SELECT doc_id FROM documents
         WHERE lang = '{_ZS_LANG}' AND n_chars < {_ZS_NCHARS_LT}),
hits AS (
  SELECT m.doc_id, coalesce(s.score, 0.0) AS score
  FROM meta m LEFT JOIN sc0 s USING (doc_id)
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM hits ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_filter_zero_score", _zero_score_sql(TOP_K))
def ft_filter_zero_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES filter-context ZERO-SCORE semantics through the REAL engine:
    bool with should but NO must and a metadata filter — with a filter
    present ES defaults minimum_should_match to 0, so filter-admitted
    docs matching no should term are hits at score 0.0, ranked after
    every scored doc (doc_id asc tie-break). No term constraints ->
    no proven driver bound -> exercises the DISTRIBUTED regime's
    doc_part-cogrouped admitted-id stream end to end at gate time."""
    si = _gate_index(spark, sf_dir)
    out = si.search_bool(
        should=_ZS_SHOULD, k=TOP_K,
        filter=[{"term": {"lang": _ZS_LANG}},
                {"range": {"n_chars": {"lt": _ZS_NCHARS_LT}}}],
    )
    return out.select("rank", "doc_id", "score")


_SIG_TOP_N = 15


def _sig_terms_sql(terms: list[str], top_n: int) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
fg_docs AS (SELECT DISTINCT doc_id FROM tf JOIN q USING (term)),
ns AS (SELECT (SELECT count(*) FROM dl)::DOUBLE AS bg_n,
              (SELECT count(*) FROM fg_docs)::DOUBLE AS fg_n),
bg AS (SELECT term, count(*)::BIGINT AS bg_df FROM tf GROUP BY term),
fg AS (SELECT term, count(*)::BIGINT AS fg_df
       FROM tf WHERE doc_id IN (SELECT doc_id FROM fg_docs) GROUP BY term),
scored AS (
  SELECT fg.term, fg.fg_df, bg.bg_df,
         round((fg.fg_df / ns.fg_n - bg.bg_df / ns.bg_n)
               * ((fg.fg_df / ns.fg_n) / (bg.bg_df / ns.bg_n)), 6) AS score
  FROM fg JOIN bg USING (term) CROSS JOIN ns
  WHERE fg.fg_df / ns.fg_n > bg.bg_df / ns.bg_n
)
SELECT (row_number() OVER (ORDER BY score DESC, term ASC) - 1)::BIGINT AS rank,
       term, fg_df, bg_df, score
FROM scored ORDER BY score DESC, term ASC LIMIT {top_n}"""


@gate_query("ft_significant_terms", _sig_terms_sql(QUERY_TERMS, _SIG_TOP_N))
def ft_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_terms aggregation: JLH-scored foreground (query
    matches) vs background (corpus) term significance, top-n."""
    from ..operators.bm25 import significant_terms

    docs = load(spark, sf_dir, "documents")
    return significant_terms(docs, QUERY_TERMS, _SIG_TOP_N,
                             text_col="text", analyzer=DOCS_ANALYZER)


_WILD_PATTERN = "s?a*"   # ^s.a.*$ — matches scan, spark, small (NOT stream)
_WILD_MAX_EXP = 4


def _wildcard_sql(pattern: str, max_exp: int, k: int,
                  bm25: BM25Config = BM25Config()) -> str:
    import re as _re

    regex = "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else _re.escape(c)
        for c in pattern
    ) + "$"
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
alldf AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
q AS (SELECT term FROM alldf WHERE regexp_matches(term, '{regex}')
      ORDER BY df DESC, term ASC LIMIT {max_exp}),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_wildcard_bm25",
            _wildcard_sql(_WILD_PATTERN, _WILD_MAX_EXP, TOP_K))
def ft_wildcard_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard query (ES `wildcard` surface) through the REAL engine:
    pattern (* = any run, ? = one char) expanded against the dictionary
    (df desc, capped), then BM25 over the expansion. Completes the
    term-level query family: term / prefix / fuzzy / wildcard."""
    si = _gate_index(spark, sf_dir)
    cand = si.search_wildcard(_WILD_PATTERN, TOP_K + 20,
                              max_expansions=_WILD_MAX_EXP).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return _rounded_topk(cand, TOP_K)


# -- ES regexp query (the last term-level expansion kind) ----------------
_REGEXP_PATTERN = "(ha|spark)[a-z]*"   # alternation + class + star
_REGEXP_MAX_EXP = 12


def _regexp_sql(pattern: str, max_exp: int, k: int,
                bm25: BM25Config = BM25Config()) -> str:
    regex = f"^(?:{pattern})$"
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
alldf AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
q AS (SELECT term FROM alldf WHERE regexp_matches(term, '{regex}')
      ORDER BY df DESC, term ASC LIMIT {max_exp}),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_regexp_bm25",
            _regexp_sql(_REGEXP_PATTERN, _REGEXP_MAX_EXP, TOP_K))
def ft_regexp_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp query (ES `regexp`) through the REAL engine: the anchored
    pattern expanded against the term dictionary JVM-side (rlike), df
    desc order, ES-style max_expansions cap, then BM25 over the
    expansion — the last member of the term-level family
    (term / prefix / fuzzy / wildcard / regexp)."""
    si = _gate_index(spark, sf_dir)
    cand = si.search_regexp(_REGEXP_PATTERN, TOP_K + 20,
                            max_expansions=_REGEXP_MAX_EXP).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return _rounded_topk(cand, TOP_K)



def _expansion_sql() -> str:
    from .registry import REGISTRY

    return "\nUNION ALL\n".join(
        f"SELECT '{label}' AS qtype, * FROM ({REGISTRY[name].sql})"
        for label, name in (("prefix", "ft_prefix_bm25"),
                            ("fuzzy", "ft_fuzzy_bm25"),
                            ("wildcard", "ft_wildcard_bm25"),
                            ("regexp", "ft_regexp_bm25"))
    )


@gate_query("ft_expansion_bm25", _expansion_sql())
def ft_expansion_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole term-expansion query family (ES prefix / fuzzy /
    wildcard / regexp, SURVEY P8) as one labeled union over the shared
    segment index — one driver window slot hash-checks all four
    expansions (dictionary scan order df desc, ES-style max_expansions
    caps). The single-family entries stay registered for direct use."""
    parts = []
    for label, fn in (("prefix", ft_prefix_bm25),
                      ("fuzzy", ft_fuzzy_bm25),
                      ("wildcard", ft_wildcard_bm25),
                      ("regexp", ft_regexp_bm25)):
        parts.append(fn(spark, sf_dir).select(
            F.lit(label).alias("qtype"), "rank", "doc_id", "score"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# -- document deletes (plans.delete): tombstones + compaction -----------
# Deterministic dead set over the sf corpus: doc_id % 7 == 3.
_DEAD_PRED_SQL = "doc_id % 7 = 3"


def _bm25_deleted_sql(terms: list[str], k: int) -> str:
    """Tombstone (Lucene frozen-stats) semantics: BM25 over the FULL
    corpus statistics (deleted docs still count toward N/avgdl/df), the
    dead docs dropped from the ranking only."""
    base = _bm25_sql(terms, 10 ** 9)  # unranked-cut form of the score CTEs
    head, _, _ = base.rpartition("SELECT")
    return head + f"""SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc WHERE NOT ({_DEAD_PRED_SQL})
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _bm25_compacted_sql(terms: list[str], k: int) -> str:
    """Compacted semantics: a from-scratch build over the live corpus —
    stats recomputed, so the SQL simply scores the filtered table."""
    return _bm25_sql(terms, k).replace(
        "FROM documents",
        f"FROM documents WHERE NOT ({_DEAD_PRED_SQL})")


# (tombstoned index, compacted index) per sf_dir — built once, shared by
# both delete gates; separate from _GATE_INDEX so the shared index never
# sees a tombstone.
_GATE_DEL_INDEX: dict[str, tuple] = {}


def _gate_del_index(spark: SparkSession, sf_dir: str) -> tuple:
    import os
    import tempfile

    from ..config import IndexConfig
    from ..plans.delete import compact_index, delete_docs
    from ..plans.index_build import build_index
    from ..plans.search import SegmentIndex

    pair = _GATE_DEL_INDEX.get(sf_dir)
    if pair is None:
        cfg = IndexConfig(n_buckets=8, doc_range=256, block_size=32,
                          analyzer=DOCS_ANALYZER)
        root = tempfile.mkdtemp(prefix="gate_del_")
        idx, cmp_dir = os.path.join(root, "idx"), os.path.join(root, "cmp")
        docs = load(spark, sf_dir, "documents")
        build_index(docs, idx, cfg, text_col="text", id_col="doc_id",
                    resume=False)
        dead = [int(r["doc_id"]) for r in
                docs.filter(F.expr(_DEAD_PRED_SQL)).select("doc_id").collect()]
        delete_docs(spark, idx, dead)
        compact_index(spark, idx, cmp_dir)
        pair = (SegmentIndex(spark, idx), SegmentIndex(spark, cmp_dir))
        _GATE_DEL_INDEX[sf_dir] = pair
    return pair


@gate_query("ft_bm25_topk_deleted", _bm25_deleted_sql(QUERY_TERMS, TOP_K))
def ft_bm25_topk_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document deletes, tombstone tier (plans.delete / SURVEY S5's
    lifecycle counterpart — the reference's own v2->v3 junk-doc removal,
    README.md:135-138): deleted docs vanish from results immediately
    while corpus stats stay frozen until compaction (Lucene semantics).
    The engine runs the exact over-fetch + exclusion wrapper; the oracle
    ranks with FULL-corpus BM25 stats and drops the dead ids."""
    si, _ = _gate_del_index(spark, sf_dir)
    cand = si.search(QUERY_TERMS, TOP_K + 20, mode="wand").select(
        "doc_id", F.round("score", 6).alias("score"))
    return _rounded_topk(cand, TOP_K)


@gate_query("ft_bm25_topk_compacted", _bm25_compacted_sql(QUERY_TERMS, TOP_K))
def ft_bm25_topk_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document deletes, compaction tier: physical expunge (chunk-local
    re-encode, NO shuffle; stats/df/block-max recomputed) — equal to a
    from-scratch build over the live corpus, so the oracle scores the
    filtered table with recomputed stats."""
    _, sc = _gate_del_index(spark, sf_dir)
    cand = sc.search(QUERY_TERMS, TOP_K + 20, mode="wand").select(
        "doc_id", F.round("score", 6).alias("score"))
    return _rounded_topk(cand, TOP_K)


# -- ES aggregations adapter (plans.dsl.es_aggs) -------------------------
_AGGS_QUERY_TEXT = " ".join(QUERY_TERMS)


def _es_aggs_sql() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(QUERY_TERMS)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
m AS (SELECT DISTINCT doc_id FROM tf JOIN q USING (term)),
d AS (SELECT documents.* FROM documents JOIN m USING (doc_id))
SELECT 'by_lang' AS agg, key, doc_count, NULL::DOUBLE AS value FROM (
  SELECT lang AS key, count(*)::BIGINT AS doc_count FROM d
  GROUP BY lang ORDER BY doc_count DESC, key ASC LIMIT 10)
UNION ALL
SELECT 'by_source' AS agg, key, doc_count, NULL::DOUBLE AS value FROM (
  SELECT source AS key, count(*)::BIGINT AS doc_count FROM d
  GROUP BY source ORDER BY doc_count DESC, key ASC LIMIT 3)
UNION ALL
SELECT 'chars' AS agg, key, NULL::BIGINT AS doc_count, value FROM (
  SELECT 'count' AS key, count(n_chars)::DOUBLE AS value FROM d
  UNION ALL SELECT 'min', min(n_chars)::DOUBLE FROM d
  UNION ALL SELECT 'max', max(n_chars)::DOUBLE FROM d
  UNION ALL SELECT 'avg', avg(n_chars::DOUBLE) FROM d
  UNION ALL SELECT 'sum', sum(n_chars::DOUBLE) FROM d)"""


@gate_query("ft_es_aggs", _es_aggs_sql())
def ft_es_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES aggregations over the index (plans.dsl.es_aggs): terms buckets
    + stats metrics computed over EVERY doc matching the query (ES agg
    semantics — not the top-k), match set from the pruned postings scan,
    metadata from the doc store's meta_cols (the ES _source). The
    surrounding ES surface for a switching user: the reference itself
    only searches, but every ES deployment of its shape also aggregates."""
    from ..plans.dsl import es_aggs

    si = _gate_index(spark, sf_dir)
    body = {
        "query": {"match": {"text": _AGGS_QUERY_TEXT}},
        "aggs": {
            "by_lang": {"terms": {"field": "lang", "size": 10}},
            "by_source": {"terms": {"field": "source", "size": 3}},
            "chars": {"stats": {"field": "n_chars"}},
        },
    }
    return es_aggs(si, body)


# -- search_after cursor pagination --------------------------------------
_SA_FROM, _SA_SIZE = 10, 20


def _search_after_sql(terms: list[str], frm: int, size: int) -> str:
    base = _bm25_sql(terms, 10 ** 9)
    head, _, _ = base.rpartition("SELECT")
    return head + f"""SELECT (rnk - {frm})::BIGINT AS rank, doc_id, score FROM (
  SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rnk,
         doc_id, score
  FROM sc) WHERE rnk >= {frm} AND rnk < {frm + size}
ORDER BY rnk"""


@gate_query("ft_search_after",
            _search_after_sql(QUERY_TERMS, _SA_FROM, _SA_SIZE))
def ft_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES search_after cursor pagination: page 2 fetched with the cursor
    cut pushed INSIDE the per-part scorers (each part emits at most k
    post-cursor rows — the skipped prefix is never re-materialized,
    unlike from/size). Determinism note: the oracle ranks by the
    6dp-rounded score while the cursor cuts on the raw score; the page
    window [ranks 8..31] of this corpus has no rounding plateau
    (tests/test_es_dsl.py::test_search_after_gate_window_has_no_plateau
    pins the property, so testdata drift fails in pytest, not here)."""
    si = _gate_index(spark, sf_dir)
    p1 = si.search(QUERY_TERMS, _SA_FROM, mode="wand").collect()
    cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    cand = si.search(QUERY_TERMS, _SA_SIZE, mode="wand", after=cur).select(
        "doc_id", F.round("score", 6).alias("score"))
    return _rounded_topk(cand, _SA_SIZE)


# -- more_like_this: the reference's whole background-linking flow -------
_MLT_LIKE_ID = 11
_MLT_MIN_TF, _MLT_MIN_DF, _MLT_MAX_TERMS = 2, 5, 10


def _mlt_sql(like_id: int, k: int,
             bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tdf AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
kscored AS (
  SELECT tf.term,
         round(tf.tf * ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5)), 6) AS kscore
  FROM tf JOIN tdf USING (term) CROSS JOIN stats
  WHERE tf.doc_id = {like_id}
    AND tf.tf >= {_MLT_MIN_TF} AND tdf.df >= {_MLT_MIN_DF}
),
q AS (
  SELECT term FROM (
    SELECT term,
           row_number() OVER (ORDER BY kscore DESC, term ASC) AS rn
    FROM kscored) WHERE rn <= {_MLT_MAX_TERMS}
),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts
       WHERE doc_id <> {like_id} GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_more_like_this", _mlt_sql(_MLT_LIKE_ID, TOP_K))
def ft_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES more_like_this by doc id — the reference's ENTIRE
    background-linking retrieval (es.termvectors tf-idf keyword
    extraction with min_term_freq/min_doc_freq/max_query_terms,
    wapo/parser.py:10-47, feeding the OR query_string of
    ranking.py:127-139, liked doc excluded) as ONE ES body through the
    index path: stored term vectors -> keyword top-n -> pruned postings
    scan. The oracle composes the same two stages in SQL."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"more_like_this": {
        "fields": ["text"],
        "like": [{"_id": _MLT_LIKE_ID}],
        "min_term_freq": _MLT_MIN_TF,
        "min_doc_freq": _MLT_MIN_DF,
        "max_query_terms": _MLT_MAX_TERMS,
    }}}
    cand = es_search(si, body, size=TOP_K + 20).select(
        "doc_id", F.round("score", 6).alias("score"))
    return _rounded_topk(cand, TOP_K)


# -- remaining ES compound-query surface (round 5) ----------------------
# match_all / constant_score / boosting / multi_match most_fields: the
# compound kinds a switching ES user issues that no earlier gate covers.

_CS_BOOST = 2.5
_CS_LANG = "de"
_CS_NCHARS = (100, 400)                  # gte, lt


@gate_query(
    "ft_match_all",
    f"""SELECT (row_number() OVER (ORDER BY doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, 1.0::DOUBLE AS score
FROM documents ORDER BY doc_id ASC LIMIT {TOP_K}""",
)
def ft_match_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_all through the DSL adapter: every live doc at the
    constant boost score, deterministic doc_id-asc hit order."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    return es_search(si, {"query": {"match_all": {}}}, size=TOP_K)


@gate_query(
    "ft_constant_score",
    f"""SELECT (row_number() OVER (ORDER BY doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, {_CS_BOOST}::DOUBLE AS score
FROM documents
WHERE lang = '{_CS_LANG}'
  AND n_chars >= {_CS_NCHARS[0]} AND n_chars < {_CS_NCHARS[1]}
ORDER BY doc_id ASC LIMIT {TOP_K}""",
)
def ft_constant_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES constant_score: filter-context evaluation (term on lang +
    range on n_chars — parquet-pushed doc_store predicates through
    search_bool's filter machinery), every hit at score = boost. Equal
    scores rank doc_id asc (the engine-wide tie-break)."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"constant_score": {
        "filter": [
            {"term": {"lang": _CS_LANG}},
            {"range": {"n_chars": {"gte": _CS_NCHARS[0],
                                   "lt": _CS_NCHARS[1]}}},
        ],
        "boost": _CS_BOOST,
    }}}
    return es_search(si, body, size=TOP_K)


_BOOST_POS = ["hash", "merge", "spark"]
_BOOST_NEG = ["table", "window"]
_BOOST_NB = 0.4


def _boosting_sql(pos: list[str], neg: list[str], nb: float, k: int,
                  bm25: BM25Config = BM25Config()) -> str:
    pos_sql = ", ".join(f"'{t}'" for t in sorted(set(pos)))
    neg_sql = ", ".join(f"'{t}'" for t in sorted(set(neg)))
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{pos_sql}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
raw AS (SELECT doc_id, sum(p) AS s FROM parts GROUP BY doc_id),
neg AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({neg_sql})),
sc AS (
  SELECT r.doc_id,
         round(r.s * (CASE WHEN n.doc_id IS NOT NULL THEN {nb}
                           ELSE 1.0 END), 6) AS score
  FROM raw r LEFT JOIN neg n USING (doc_id)
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_boosting",
            _boosting_sql(_BOOST_POS, _BOOST_NEG, _BOOST_NB, TOP_K))
def ft_boosting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boosting query through the REAL engine: positive OR-disjunction
    scores BM25, negative-matching docs demoted by negative_boost —
    exact over the FULL positive match set: search_boosting scores
    every positive match (demotion can promote docs from arbitrarily
    deep, so a fixed over-fetch would be wrong; the oracle scores every
    match too). tests/test_es_dsl.py pins that the demotion actually
    reorders this corpus and that both placements are row-identical."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"boosting": {
        "positive": {"match": {"text": " ".join(_BOOST_POS)}},
        "negative": {"match": {"text": " ".join(_BOOST_NEG)}},
        "negative_boost": _BOOST_NB,
    }}}
    return es_search(si, body, size=TOP_K)


@gate_query("ft_mm_most_fields", _dismax_sql(QUERY_TERMS, TOP_K, tie=1.0))
def ft_mm_most_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match type=most_fields — per-field BM25 scores SUMMED
    across fields (vs best_fields' max + tie_breaker): exactly the
    DisMax combine at tie_breaker 1.0, so the oracle is the dismax SQL
    with tie=1.0. Compositional path; the DSL's indexed mapping
    (most_fields -> search_dismax(tb=1.0)) is pinned in pytest."""
    from ..operators.bm25 import dismax_bm25_topk

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ")
        .alias("title"),
        F.col("text").alias("body"),
    )
    out = dismax_bm25_topk(docs, QUERY_TERMS, TOP_K,
                           fields=["title", "body"],
                           tie_breaker=1.0, analyzer=DOCS_ANALYZER)
    return out.select("rank", "doc_id", F.round("score", 6).alias("score"))


# -- ES bucket/percentile aggregations (histogram / range / percentiles) -
def _es_aggs_buckets_sql() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(QUERY_TERMS)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
m AS (SELECT DISTINCT doc_id FROM tf JOIN q USING (term)),
d AS (SELECT documents.* FROM documents JOIN m USING (doc_id))
SELECT 'hist' AS agg, (floor(n_chars / 50) * 50)::BIGINT::VARCHAR AS key,
       count(*)::BIGINT AS doc_count, NULL::DOUBLE AS value
FROM d GROUP BY 2
UNION ALL
SELECT 'rng', '*-150', (SELECT count(*) FROM d WHERE n_chars < 150)::BIGINT, NULL::DOUBLE
UNION ALL
SELECT 'rng', '150-300', (SELECT count(*) FROM d WHERE n_chars >= 150 AND n_chars < 300)::BIGINT, NULL::DOUBLE
UNION ALL
SELECT 'rng', '300-*', (SELECT count(*) FROM d WHERE n_chars >= 300)::BIGINT, NULL::DOUBLE
UNION ALL
SELECT 'pct', '25.0', NULL::BIGINT, quantile_cont(n_chars, 0.25) FROM d
UNION ALL SELECT 'pct', '50.0', NULL::BIGINT, quantile_cont(n_chars, 0.50) FROM d
UNION ALL SELECT 'pct', '75.0', NULL::BIGINT, quantile_cont(n_chars, 0.75) FROM d
UNION ALL SELECT 'pct', '95.0', NULL::BIGINT, quantile_cont(n_chars, 0.95) FROM d"""


@gate_query("ft_es_aggs_buckets", _es_aggs_buckets_sql())
def ft_es_aggs_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES numeric-bucket + percentile aggregations over the query match
    set (plans.dsl.es_aggs): histogram (fixed interval, floor-bucketed
    lower-bound keys), range ([from,to) buckets, open bounds keyed '*',
    empty buckets at 0 like ES), and exact interpolated percentiles
    (ES approximates with t-digest; exactness keeps this oracle
    meaningful — swap to approx_percentile at true scale)."""
    from ..plans.dsl import es_aggs

    si = _gate_index(spark, sf_dir)
    body = {
        "query": {"match": {"text": _AGGS_QUERY_TEXT}},
        "aggs": {
            "hist": {"histogram": {"field": "n_chars", "interval": 50}},
            "rng": {"range": {"field": "n_chars", "ranges": [
                {"to": 150}, {"from": 150, "to": 300}, {"from": 300}]}},
            "pct": {"percentiles": {"field": "n_chars",
                                    "percents": [25, 50, 75, 95]}},
        },
    }
    return es_aggs(si, body)


# -- ES function_score (field_value_factor) ------------------------------
_FS_FACTOR = 0.1
_FS_QUERY = ["hash", "merge", "spark"]


def _function_score_sql(terms: list[str], factor: float, k: int,
                        bm25: BM25Config = BM25Config()) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
raw AS (SELECT doc_id, sum(p) AS s FROM parts GROUP BY doc_id),
sc AS (
  SELECT r.doc_id,
         round(r.s * log10(1 + {factor} * d2.n_chars), 6) AS score
  FROM raw r JOIN documents d2 USING (doc_id)
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_function_score",
            _function_score_sql(_FS_QUERY, _FS_FACTOR, TOP_K))
def ft_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score with field_value_factor through the REAL
    engine: final = bm25(query) * log1p(factor * n_chars) over EVERY
    matching doc (the boost-by-popularity shape), where ES's log1p is
    the common logarithm log10(1 + x). Per-doc factors can promote docs
    from arbitrarily deep, so the engine and the oracle both score the
    full match set. Placement parity pinned in tests/test_es_dsl.py."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"function_score": {
        "query": {"match": {"text": " ".join(_FS_QUERY)}},
        "field_value_factor": {"field": "n_chars",
                               "factor": _FS_FACTOR,
                               "modifier": "log1p"},
        "boost_mode": "multiply",
    }}}
    return es_search(si, body, size=TOP_K)


# -- ES function_score (functions list: filter + weight) ------------------
_FSF_LEN = 200          # range-filter threshold on n_chars
_FSF_TERM = "window"    # postings-membership filter term
_FSF_W1, _FSF_W2 = 1.5, 2.0
_FSF_MAX_BOOST = 2.5


def _function_score_fns_sql(terms: list[str], k: int,
                            bm25: BM25Config = BM25Config()) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
raw AS (SELECT doc_id, sum(p) AS s FROM parts GROUP BY doc_id),
f2 AS (SELECT DISTINCT doc_id FROM tf WHERE term = '{_FSF_TERM}'),
sc AS (
  SELECT r.doc_id,
         round(r.s * least({_FSF_MAX_BOOST},
             (CASE WHEN d2.n_chars >= {_FSF_LEN} THEN {_FSF_W1} ELSE 1.0 END)
           * (CASE WHEN f2.doc_id IS NOT NULL THEN {_FSF_W2} ELSE 1.0 END)),
           6) AS score
  FROM raw r
  JOIN documents d2 USING (doc_id)
  LEFT JOIN f2 ON f2.doc_id = r.doc_id
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_function_score_fns",
            _function_score_fns_sql(_FS_QUERY, TOP_K))
def ft_function_score_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score with a FUNCTIONS list through the REAL engine:
    two filter+weight functions (a doc-store range pushdown on n_chars
    and a postings-membership match), score_mode=multiply combining the
    firing weights, capped at max_boost, boost_mode=multiply applying
    the cap to BM25 — docs matched by no function keep their query
    score (the ES no-match contract; the oracle's CASE product is 1
    there and the cap >= 1 never touches it). The engine and the oracle
    both score the full match set. Placement parity + all five
    score_modes pinned against a pure-python oracle in
    tests/test_es_dsl.py."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"function_score": {
        "query": {"match": {"text": " ".join(_FS_QUERY)}},
        "functions": [
            {"filter": {"range": {"n_chars": {"gte": _FSF_LEN}}},
             "weight": _FSF_W1},
            {"filter": {"match": {"text": _FSF_TERM}}, "weight": _FSF_W2},
        ],
        "score_mode": "multiply",
        "boost_mode": "multiply",
        "max_boost": _FSF_MAX_BOOST,
    }}}
    return es_search(si, body, size=TOP_K)


# -- explicit ES dis_max (per-sub-query texts) ----------------------------
_DMQ_TITLE_Q = ["join", "query"]
_DMQ_TEXT_Q = ["hash", "window"]
_DMQ_TIE = 0.25
_DMQ_TITLE_BOOST = 1.5

# second per-field index (derived title), built once per sf_dir like
# _GATE_INDEX — the dis_max gate queries two real segment indexes
_GATE_TITLE_INDEX: dict[str, object] = {}


def _gate_title_index(spark: SparkSession, sf_dir: str):
    import tempfile

    from ..config import IndexConfig
    from ..plans.index_build import build_index
    from ..plans.search import SegmentIndex

    si = _GATE_TITLE_INDEX.get(sf_dir)
    if si is None:
        cfg = IndexConfig(n_buckets=8, doc_range=256, block_size=32,
                          analyzer=DOCS_ANALYZER)
        idx_dir = tempfile.mkdtemp(prefix="gate_title_idx_")
        docs = load(spark, sf_dir, "documents").select(
            "doc_id",
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ")
            .alias("title"))
        build_index(docs, idx_dir, cfg, text_col="title",
                    id_col="doc_id", resume=False)
        si = SegmentIndex(spark, idx_dir)
        _GATE_TITLE_INDEX[sf_dir] = si
    return si


def _dismax_queries_sql(title_terms: list[str], text_terms: list[str],
                        k: int, bm25: BM25Config = BM25Config(),
                        tie: float = _DMQ_TIE,
                        title_boost: float = _DMQ_TITLE_BOOST) -> str:
    tq = ", ".join(f"'{t}'" for t in sorted(set(title_terms)))
    bq = ", ".join(f"'{t}'" for t in sorted(set(text_terms)))
    fields = (_field_ctes(_DISMAX_TITLE, "t_", qname="tq") + "," +
              _field_ctes("text", "b_", qname="bq"))
    fields = fields.replace("{k1}", str(bm25.k1)).replace("{b}", str(bm25.b))
    return f"""WITH docs2 AS (SELECT doc_id, text FROM documents),
tq AS (SELECT unnest([{tq}]) AS term),
bq AS (SELECT unnest([{bq}]) AS term),{fields},
allsc AS (
  SELECT coalesce(a.doc_id, c.doc_id) AS doc_id,
         coalesce(a.score, 0) * {title_boost} AS s_t,
         coalesce(c.score, 0) AS s_b
  FROM t_sc a FULL OUTER JOIN b_sc c ON a.doc_id = c.doc_id
),
fin AS (
  SELECT doc_id,
         round(greatest(s_t, s_b)
               + {tie} * (s_t + s_b - greatest(s_t, s_b)), 6) AS score
  FROM allsc
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM fin ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_dismax_queries",
            _dismax_queries_sql(_DMQ_TITLE_Q, _DMQ_TEXT_Q, TOP_K))
def ft_dismax_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ES dis_max — each sub-query carries its OWN text for its
    OWN field (title scores 'join query' at boost 1.5, text scores
    'hash window'), per-field BM25 with field-local N/avgdl/df combined
    max + tie_breaker * (sum - max). Runs through es_search onto
    search_dismax with a per-field query dict over TWO real segment
    indexes; the oracle re-expresses both analyzer pipelines, per-field
    BM25, the boost, and the combine in one SQL. Placement parity
    (driver == distributed) pinned in tests/test_es_dsl.py."""
    from ..plans.dsl import es_search

    fidx = {"title": _gate_title_index(spark, sf_dir),
            "text": _gate_index(spark, sf_dir)}
    body = {"query": {"dis_max": {
        "queries": [
            {"match": {"title": {"query": " ".join(_DMQ_TITLE_Q),
                                 "boost": _DMQ_TITLE_BOOST}}},
            {"match": {"text": " ".join(_DMQ_TEXT_Q)}},
        ],
        "tie_breaker": _DMQ_TIE,
    }}}
    return es_search(fidx, body, size=TOP_K)


# -- ES terms + metric sub-aggregations (nested aggs) --------------------
def _es_aggs_nested_sql() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(QUERY_TERMS)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
m AS (SELECT DISTINCT doc_id FROM tf JOIN q USING (term)),
d AS (SELECT documents.* FROM documents JOIN m USING (doc_id)),
b AS (SELECT lang AS key, count(*)::BIGINT AS doc_count,
             avg(n_chars::DOUBLE) AS avg_len,
             max(n_chars)::DOUBLE AS max_len,
             count(DISTINCT source)::DOUBLE AS n_sources
      FROM d GROUP BY lang ORDER BY doc_count DESC, key ASC LIMIT 5)
SELECT 'by_lang' AS agg, key, doc_count, NULL::DOUBLE AS value FROM b
UNION ALL
SELECT 'by_lang.avg_len', key, NULL::BIGINT, avg_len FROM b
UNION ALL
SELECT 'by_lang.max_len', key, NULL::BIGINT, max_len FROM b
UNION ALL
SELECT 'by_lang.n_sources', key, NULL::BIGINT, n_sources FROM b"""


@gate_query("ft_es_aggs_nested", _es_aggs_nested_sql())
def ft_es_aggs_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sub-aggregations: metric aggs nested under terms buckets (the
    everyday ES analytics shape — group by a field, compute stats per
    group). Every sub-metric rides the SAME hash aggregation as the
    bucket counts — ONE shuffle no matter how many sub-aggs — then a
    stack() fans each bucket row into its bucket line plus one
    parent.child line per metric. Match set from the pruned postings
    scan, aggregation inputs from the doc store's _source columns."""
    from ..plans.dsl import es_aggs

    si = _gate_index(spark, sf_dir)
    body = {
        "query": {"match": {"text": _AGGS_QUERY_TEXT}},
        "aggs": {"by_lang": {
            "terms": {"field": "lang", "size": 5},
            "aggs": {
                "avg_len": {"avg": {"field": "n_chars"}},
                "max_len": {"max": {"field": "n_chars"}},
                "n_sources": {"cardinality": {"field": "source"}},
            },
        }},
    }
    return es_aggs(si, body)


# -- ES filters aggregation (named predicate buckets) --------------------
def _es_aggs_filters_sql() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(QUERY_TERMS)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
m AS (SELECT DISTINCT doc_id FROM tf JOIN q USING (term)),
d AS (SELECT documents.* FROM documents JOIN m USING (doc_id)),
j AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'join')
SELECT 'buckets' AS agg, 'english' AS key,
       (SELECT count(*) FROM d WHERE lang = 'en')::BIGINT AS doc_count,
       NULL::DOUBLE AS value
UNION ALL
SELECT 'buckets', 'longform',
       (SELECT count(*) FROM d WHERE n_chars >= 300)::BIGINT, NULL::DOUBLE
UNION ALL
SELECT 'buckets', 'mentions_join',
       (SELECT count(*) FROM d JOIN j USING (doc_id))::BIGINT, NULL::DOUBLE"""


@gate_query("ft_es_aggs_filters", _es_aggs_filters_sql())
def ft_es_aggs_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES filters aggregation: named predicate buckets over the query's
    match set — a term bucket (lang), a range bucket (n_chars), and a
    match bucket (docs also containing 'join', membership through the
    pruned postings scan). Metadata predicates push down to the
    doc-store parquet scan; the oracle recounts each bucket in SQL."""
    from ..plans.dsl import es_aggs

    si = _gate_index(spark, sf_dir)
    body = {
        "query": {"match": {"text": _AGGS_QUERY_TEXT}},
        "aggs": {"buckets": {"filters": {"filters": {
            "english": {"term": {"lang": "en"}},
            "longform": {"range": {"n_chars": {"gte": 300}}},
            "mentions_join": {"match": {"text": "join"}},
        }}}},
    }
    return es_aggs(si, body)


# -- ES body-level field sort (filter-then-sort) -------------------------
def _es_sort_sql() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(QUERY_TERMS)))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
m AS (SELECT DISTINCT doc_id FROM tf JOIN q USING (term)),
d AS (SELECT documents.* FROM documents JOIN m USING (doc_id))
SELECT (row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, n_chars::BIGINT AS n_chars
FROM d ORDER BY n_chars DESC, doc_id ASC LIMIT {TOP_K}"""


@gate_query("ft_es_sort", _es_sort_sql())
def ft_es_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES body-level sort: the match set of the query (postings
    membership, never a corpus scan) ordered by a doc-store column
    instead of relevance — the filter-then-sort ES shape (sort:
    [{n_chars: desc}]), doc_id tie-break, missing-last semantics."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"match": {"text": _AGGS_QUERY_TEXT}},
            "sort": [{"n_chars": "desc"}]}
    out = es_search(si, body, size=TOP_K)
    return out.select("rank", "doc_id",
                      F.col("n_chars").cast("bigint").alias("n_chars"))


# -- ES bool with per-clause boosts (r5: the r4 rejection retired) --------
_CB_MUST = "table merge"          # one match clause (OR of its tokens)
_CB_MUST_BOOST = 2.5
_CB_S1, _CB_S1_BOOST = "hash", 0.5
_CB_S2 = "window"


def _bool_boosted_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    all_terms = ", ".join(f"'{t}'" for t in
                          sorted({"table", "merge", _CB_S1, _CB_S2}))
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{all_terms}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc0 AS (
  SELECT doc_id,
         round({_CB_MUST_BOOST} * sum(CASE WHEN term IN ('merge', 'table')
                                      THEN p ELSE 0 END)
               + {_CB_S1_BOOST} * sum(CASE WHEN term = '{_CB_S1}'
                                      THEN p ELSE 0 END)
               + sum(CASE WHEN term = '{_CB_S2}' THEN p ELSE 0 END),
               6) AS score,
         max(CASE WHEN term IN ('merge', 'table') THEN 1 ELSE 0 END) AS mok
  FROM parts GROUP BY doc_id
),
sc AS (SELECT doc_id, score FROM sc0 WHERE mok = 1)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bool_boosted", _bool_boosted_sql(TOP_K))
def ft_bool_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool with PER-CLAUSE boosts (r4 adapter rejection retired):
    the must clause's summed-BM25 contribution scales by its boost
    (2.5), one should clause by 0.5, the other unboosted — ES clause
    semantics (each clause's score is the summed BM25 of its matched
    tokens x its boost; the match set is unchanged). Runs through
    es_search onto the bool tree's numpy evaluator with weighted
    leaves (plans/search.py:_bool_tree)."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"bool": {
        "must": [{"match": {"text": {"query": _CB_MUST,
                                     "boost": _CB_MUST_BOOST}}}],
        "should": [{"match": {"text": {"query": _CB_S1,
                                       "boost": _CB_S1_BOOST}}},
                   {"match": {"text": _CB_S2}}],
    }}}
    return es_search(si, body, size=TOP_K)


# -- multi-field AND query_string (per-field DisMax of conjunctions) -----
_MFA_TERMS = ["scan", "table"]
_MFA_TIE = 0.3
_MFA_TITLE_BOOST = 2.0


def _qs_multifield_and_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    ts = ", ".join(f"'{t}'" for t in sorted(set(_MFA_TERMS)))
    fields = (_field_ctes(_DISMAX_TITLE, "t_") + "," +
              _field_ctes("text", "b_"))
    fields = fields.replace("{k1}", str(bm25.k1)).replace("{b}", str(bm25.b))
    return f"""WITH docs2 AS (SELECT doc_id, text FROM documents),
q AS (SELECT unnest([{ts}]) AS term),{fields},
t_ok AS (
  SELECT doc_id FROM t_tf JOIN q USING (term)
  GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(_MFA_TERMS))}
),
b_ok AS (
  SELECT doc_id FROM b_tf JOIN q USING (term)
  GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(_MFA_TERMS))}
),
t_m AS (SELECT s.doc_id, s.score * {_MFA_TITLE_BOOST} AS score
        FROM t_sc s JOIN t_ok USING (doc_id)),
b_m AS (SELECT s.doc_id, s.score FROM b_sc s JOIN b_ok USING (doc_id)),
allsc AS (
  SELECT coalesce(a.doc_id, c.doc_id) AS doc_id,
         coalesce(a.score, 0) AS s_t, coalesce(c.score, 0) AS s_b
  FROM t_m a FULL OUTER JOIN b_m c ON a.doc_id = c.doc_id
),
fin AS (
  SELECT doc_id,
         round(greatest(s_t, s_b)
               + {_MFA_TIE} * (s_t + s_b - greatest(s_t, s_b)), 6) AS score
  FROM allsc
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM fin ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_qs_multifield_and", _qs_multifield_and_sql(TOP_K))
def ft_qs_multifield_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field AND query_string (the last r4 adapter rejection
    retired): 'scan AND table' over fields [title^2, text] — the WHOLE
    conjunction evaluates per field against that field's own index
    (ES best_fields: a doc must satisfy every operand in ONE field to
    score there), per-field summed BM25 x field boost, DisMax combine
    max + tie_breaker * (sum - max). Engine path: es_search ->
    search_dismax_bool -> per-field single-scan tree relations +
    the multi-field family's one combine (plans.search._dismax)."""
    from ..plans.dsl import es_search

    fidx = {"title": _gate_title_index(spark, sf_dir),
            "text": _gate_index(spark, sf_dir)}
    body = {"query": {"query_string": {
        "fields": [f"title^{_MFA_TITLE_BOOST}", "text"],
        "query": " AND ".join(_MFA_TERMS),
        "tie_breaker": _MFA_TIE,
    }}}
    return es_search(fidx, body, size=TOP_K)


# -- ES bool with a match_phrase clause (r5: phrase leaves in the tree) ---
_BP_PHRASE = ["table", "scan"]
_BP_SHOULD = "hash"


def _bool_phrase_sql(phrase: list[str], should_term: str, k: int,
                     bm25: BM25Config = BM25Config()) -> str:
    """Oracle for bool{must:[match_phrase], should:[match]}: adjacency
    occ + phrase-df BM25 (the engine's phrase convention) summed with
    the should term's partial where present; match = has the phrase."""
    n = len(phrase)
    hit = " AND ".join(f"toks[i+{j}] = '{t}'" for j, t in enumerate(phrase))
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
tokl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(
      regexp_replace(regexp_replace(text,
          '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
          '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g')), '[^a-z0-9]+'),
      t -> length(t) >= 2 AND regexp_full_match(t, '[a-z][a-z0-9]*')
           AND t NOT IN ({_STOP_SQL})) AS toks
  FROM documents
),
occ AS (
  SELECT doc_id, len(toks)::BIGINT AS pdl,
         CASE WHEN len(toks) >= {n} THEN
           len(list_filter(range(1, len(toks) - {n} + 2), i -> {hit}))
         ELSE 0 END::BIGINT AS occ
  FROM tokl WHERE len(toks) > 0
),
pstats AS (
  SELECT count(*)::DOUBLE AS n, avg(pdl) AS avgdl,
         count(*) FILTER (occ > 0)::DOUBLE AS dfp
  FROM occ
),
psc AS (
  SELECT o.doc_id,
         ln(1 + (s.n - s.dfp + 0.5) / (s.dfp + 0.5))
           * (o.occ * ({k1} + 1)) /
             (o.occ + {k1} * (1 - {b} + {b} * o.pdl / s.avgdl)) AS p
  FROM occ o CROSS JOIN pstats s WHERE o.occ > 0
),
tstats AS (SELECT count(*)::DOUBLE AS df FROM tf WHERE term = '{should_term}'),
hsc AS (
  SELECT tf.doc_id,
         ln(1 + (ps.n - ts.df + 0.5) / (ts.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / ps.avgdl)) AS p
  FROM tf JOIN dl USING (doc_id)
  CROSS JOIN tstats ts CROSS JOIN pstats ps
  WHERE tf.term = '{should_term}'
),
fin AS (
  SELECT p.doc_id, round(p.p + coalesce(h.p, 0), 6) AS score
  FROM psc p LEFT JOIN hsc h USING (doc_id)
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM fin ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_bool_phrase",
            _bool_phrase_sql(_BP_PHRASE, _BP_SHOULD, TOP_K))
def ft_bool_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool with a match_phrase MUST clause plus a scoring should
    term (r5: the 'unsupported bool clause: match_phrase' rejection
    retired). The phrase compiles to a leaf whose complete scored
    relation (tf = adjacency occ, idf over the phrase df — the engine's
    phrase convention) joins the tree's single clause-row union; the
    should term adds its BM25 partial where present. Engine path:
    es_search -> search_bool_tree -> _bool_tree phrase leaves
    (_phrase_scores)."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"bool": {
        "must": [{"match_phrase": {"text": " ".join(_BP_PHRASE)}}],
        "should": [{"match": {"text": _BP_SHOULD}}],
    }}}
    return es_search(si, body, size=TOP_K)


# -- simple_query_string full grammar (r5) --------------------------------
def _sqs_sql(phrase: list[str], or_term: str, not_term: str, k: int,
             bm25: BM25Config = BM25Config()) -> str:
    """Oracle for '"<phrase>" | <or_term> -<not_term>' under default
    AND: left-to-right = ((phrase OR term) AND NOT not_term); score =
    sum of the matched leaves' partials (phrase convention + term
    BM25)."""
    n = len(phrase)
    hit = " AND ".join(f"toks[i+{j}] = '{t}'" for j, t in enumerate(phrase))
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
tokl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(
      regexp_replace(regexp_replace(text,
          '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
          '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g')), '[^a-z0-9]+'),
      t -> length(t) >= 2 AND regexp_full_match(t, '[a-z][a-z0-9]*')
           AND t NOT IN ({_STOP_SQL})) AS toks
  FROM documents
),
occ AS (
  SELECT doc_id, len(toks)::BIGINT AS pdl,
         CASE WHEN len(toks) >= {n} THEN
           len(list_filter(range(1, len(toks) - {n} + 2), i -> {hit}))
         ELSE 0 END::BIGINT AS occ
  FROM tokl WHERE len(toks) > 0
),
pstats AS (
  SELECT count(*)::DOUBLE AS n, avg(pdl) AS avgdl,
         count(*) FILTER (occ > 0)::DOUBLE AS dfp
  FROM occ
),
psc AS (
  SELECT o.doc_id,
         ln(1 + (s.n - s.dfp + 0.5) / (s.dfp + 0.5))
           * (o.occ * ({k1} + 1)) /
             (o.occ + {k1} * (1 - {b} + {b} * o.pdl / s.avgdl)) AS p
  FROM occ o CROSS JOIN pstats s WHERE o.occ > 0
),
tstats AS (SELECT count(*)::DOUBLE AS df FROM tf WHERE term = '{or_term}'),
hsc AS (
  SELECT tf.doc_id,
         ln(1 + (ps.n - ts.df + 0.5) / (ts.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / ps.avgdl)) AS p
  FROM tf JOIN dl USING (doc_id)
  CROSS JOIN tstats ts CROSS JOIN pstats ps
  WHERE tf.term = '{or_term}'
),
cand AS (
  SELECT coalesce(p.doc_id, h.doc_id) AS doc_id,
         coalesce(p.p, 0) + coalesce(h.p, 0) AS s
  FROM psc p FULL OUTER JOIN hsc h ON p.doc_id = h.doc_id
),
fin AS (
  SELECT doc_id, round(s, 6) AS score FROM cand
  WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{not_term}')
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM fin ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_sqs", _sqs_sql(["table", "scan"], "hash", "window", TOP_K))
def ft_sqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simple_query_string FULL grammar (r5: the bare-term+`|` subset
    widened to the SimpleQueryParser surface): the body
    '"table scan" | hash -window' under default_operator AND parses
    left-to-right with NO precedence — ((phrase OR hash) AND NOT
    window) — and compiles to a left-deep search_bool_tree (phrase
    leaf + term leaf + must_not). Score = sum of matched leaf
    partials; the oracle re-expresses the same combination in SQL."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"simple_query_string": {
        "query": '"table scan" | hash -window',
        "default_operator": "and",
    }}}
    return es_search(si, body, size=TOP_K)


# ---- ES dense-vector search through the adapter (r5) -----------------
# The reference runs its vector path OUTSIDE ES via hnswlib
# (pyw_hnswlib.py:61-69, vector_storage.py:43-56); an ES migration of
# that flow issues exactly these bodies: the ES 8 top-level `knn`
# section (exact cosine dense_vector score (1+cos)/2, optional filter,
# optional hybrid sum with a text query) and the ES 7 script_score +
# cosineSimilarity form. Vectors live in the lake (the embeddings
# table) keyed by doc_id — the engine's _source split.

_KNN_K = 10


def _knn_q_cte() -> str:
    return ("q AS (SELECT embedding::DOUBLE[] AS qvec "
            "FROM embeddings WHERE vec_id = 0)")


def _es_knn_sql(k: int, min_chars: int) -> str:
    return f"""WITH {_knn_q_cte()},
scored AS (
  SELECT d.doc_id,
         round((1.0 + list_cosine_similarity(e.embedding::DOUBLE[], q.qvec))
               / 2.0, 6) AS score
  FROM embeddings e
  JOIN documents d ON d.doc_id = e.vec_id
  CROSS JOIN q
  WHERE d.n_chars >= {min_chars}
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _knn_vectors(spark: SparkSession, sf_dir: str):
    emb = load(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    return emb.select(F.col("vec_id").alias("doc_id"), "embedding"), qv


@gate_query("ft_es_knn", _es_knn_sql(_KNN_K, 300))
def ft_es_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8 `knn` section, knn-only with a metadata `filter`: exact
    global top-k at the cosine dense_vector score (1+cos)/2 over the
    filter's match set (range predicate pushed to the doc-store scan,
    semi-joined to the vectors relation before the cut)."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    vecs, qv = _knn_vectors(spark, sf_dir)
    body = {"knn": {"field": "embedding", "query_vector": qv,
                    "k": _KNN_K, "num_candidates": 100,
                    "filter": {"range": {"n_chars": {"gte": 300}}}}}
    return es_search(si, body, size=_KNN_K, vectors=vecs)


_SS_TERMS = ["hash", "merge"]


def _es_script_score_sql(k: int) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in _SS_TERMS)
    return f"""WITH {TOKENS_CTE},
{_knn_q_cte()},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({terms_sql})),
scored AS (
  SELECT m.doc_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) + 1.0,
               6) AS score
  FROM m JOIN embeddings e ON e.vec_id = m.doc_id CROSS JOIN q
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_es_script_score", _es_script_score_sql(_KNN_K))
def ft_es_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 7 exact vector search: script_score + cosineSimilarity + 1.0
    over the inner match query's COMPLETE match set (postings
    membership — no scoring pass), ranked by the script value."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    vecs, qv = _knn_vectors(spark, sf_dir)
    body = {"query": {"script_score": {
        "query": {"match": {"text": " ".join(_SS_TERMS)}},
        "script": {
            "source": "cosineSimilarity(params.query_vector, "
                      "'embedding') + 1.0",
            "params": {"query_vector": qv}}}}}
    return es_search(si, body, size=_KNN_K, vectors=vecs)


_HYB_K = 20
# 0.4, not 0.5: boost * (6dp knn score) must never land the combined
# sum EXACTLY on a 6dp rounding boundary (0.5 * k/10^6 ends in a 7th
# digit of 5 whenever k is odd — Spark's BigDecimal HALF_UP and
# DuckDB's double round() then disagree by 1 ulp on the tie). With
# 0.4 the 7th digit is always even, so both engines round the same
# way with a >= 1e-7 margin over binary noise.
_HYB_BOOST = 0.4


def _es_hybrid_sql(k: int) -> str:
    return f"""WITH {_knn_q_cte()},
qs AS (SELECT doc_id, score FROM ({_bm25_sql(QUERY_TERMS, 10 ** 9)})),
ks AS (
  SELECT vec_id AS doc_id,
         round((1.0 + list_cosine_similarity(embedding::DOUBLE[], q.qvec))
               / 2.0, 6) AS ks
  FROM embeddings CROSS JOIN q
  ORDER BY ks DESC, doc_id ASC LIMIT {k}
),
comb AS (
  SELECT coalesce(qs.doc_id, ks.doc_id) AS doc_id,
         round(coalesce(qs.score, 0) + coalesce(ks.ks * {_HYB_BOOST}, 0),
               6) AS score
  FROM qs FULL OUTER JOIN ks ON qs.doc_id = ks.doc_id
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM comb ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_es_hybrid_knn", _es_hybrid_sql(_HYB_K))
def ft_es_hybrid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8 hybrid retrieval: `query` (BM25 match) + `knn` in one body,
    scores SUMMED over the union of hits — the query side contributes
    its complete match-set scores (ES combines disjunctively, not by
    page), the knn side its boost-scaled exact top-k. This is the
    reference's combined-recall keyword∪ANN flow
    (wapo/experiments/combined_recall.py) as a single ES body."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    vecs, qv = _knn_vectors(spark, sf_dir)
    body = {"query": {"match": {"text": " ".join(QUERY_TERMS)}},
            "knn": {"field": "embedding", "query_vector": qv,
                    "k": _HYB_K, "boost": _HYB_BOOST}}
    return es_search(si, body, size=_HYB_K, vectors=vecs)


# ---- round-5 closing surface: terms_set / pinned queries, composite /
# top_hits / pipeline aggregations ----

_TSET_TERMS = ["hash", "merge", "spark", "window"]
_TSET_MSM = 2


def _terms_set_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(_TSET_TERMS)))
    k1, b = bm25.k1, bm25.b
    return f"""WITH {TOKENS_CTE},
q AS (SELECT unnest([{terms_sql}]) AS term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf
  JOIN tstats USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc AS (
  SELECT doc_id, round(sum(p), 6) AS score
  FROM parts GROUP BY doc_id
  HAVING count(DISTINCT term) >= {_TSET_MSM}
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_terms_set", _terms_set_sql(TOP_K))
def ft_terms_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `terms_set` (Lucene CoveringQuery): a doc matches when it
    contains at least `minimum_should_match` DISTINCT query terms,
    scored by the bool-should sum of the matched terms' BM25 partials.
    One pruned postings scan + one hash aggregation — the per-doc-field
    form (minimum_should_match_field) is python-oracled in
    tests/test_es_aggs_pipeline.py."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"terms_set": {"text": {
        "terms": _TSET_TERMS, "minimum_should_match": _TSET_MSM}}}}
    return es_search(si, body, size=TOP_K)


_PIN_IDS = [7, 3, 999999]  # the last id does not exist -> dropped like ES
_PIN_ORG = ["merge", "table"]


def _pinned_sql(k: int) -> str:
    n = len(_PIN_IDS)
    vals = ", ".join(f"({i}::BIGINT, {p})" for p, i in enumerate(_PIN_IDS))
    return f"""WITH base AS ({_bm25_sql(_PIN_ORG, k + n)}),
pins AS (SELECT * FROM (VALUES {vals}) AS t(doc_id, pos)),
pp AS (
  SELECT p.doc_id, p.pos, ({n} - p.pos)::DOUBLE * 1e12 AS score
  FROM pins p JOIN (SELECT DISTINCT doc_id FROM documents) d USING (doc_id)
),
org AS (
  SELECT doc_id, score FROM base
  WHERE doc_id NOT IN (SELECT doc_id FROM pins)
),
comb AS (
  SELECT doc_id, 0 AS grp, pos::DOUBLE AS ord, score FROM pp
  UNION ALL
  SELECT doc_id, 1, -score, score FROM org
)
SELECT (row_number() OVER (ORDER BY grp, ord, doc_id) - 1)::BIGINT AS rank,
       doc_id, score
FROM comb ORDER BY grp, ord, doc_id LIMIT {k}"""


@gate_query("ft_pinned", _pinned_sql(TOP_K))
def ft_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `pinned` query: the listed ids rank first in list order (at
    the engine's documented synthetic-score convention 1e12*(len-pos)),
    absent ids dropped, then the organic BM25 hits with the pinned set
    excluded."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"pinned": {
        "ids": _PIN_IDS,
        "organic": {"match": {"text": " ".join(_PIN_ORG)}}}}}
    return es_search(si, body, size=TOP_K)


def _es_composite_sql() -> str:
    return f"""WITH {TOKENS_CTE},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('merge', 'table')),
g AS (
  SELECT d.lang AS l, (floor(d.n_chars / 100) * 100)::BIGINT AS h,
         count(*)::BIGINT AS doc_count
  FROM documents d JOIN m USING (doc_id) GROUP BY 1, 2
)
SELECT 'comp' AS agg, l || '|' || h AS key, doc_count,
       CAST(NULL AS DOUBLE) AS value
FROM g
WHERE (l > 'de' OR (l = 'de' AND h > 200))
ORDER BY l, h LIMIT 6"""


@gate_query("ft_es_composite", _es_composite_sql())
def ft_es_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `composite` aggregation — the scalable bucket pagination:
    (lang terms x n_chars histogram) bucket tuples over the query match
    set, resumed strictly past an `after` key, 6 buckets per page. One
    hash aggregation + a sorted cut; the after-key predicate prunes
    before the sort."""
    from ..plans.dsl import es_aggs

    si = _gate_index(spark, sf_dir)
    body = {"query": {"match": {"text": "merge table"}},
            "aggs": {"comp": {"composite": {
                "size": 6, "after": {"l": "de", "h": 200},
                "sources": [
                    {"l": {"terms": {"field": "lang"}}},
                    {"h": {"histogram": {"field": "n_chars",
                                         "interval": 100}}}]}}}}
    return es_aggs(si, body)


def _es_top_hits_sql() -> str:
    return f"""WITH {TOKENS_CTE},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('merge', 'table')),
md AS (SELECT d.* FROM documents d JOIN m USING (doc_id)),
b AS (
  SELECT lang, count(*)::BIGINT AS doc_count FROM md GROUP BY lang
  ORDER BY doc_count DESC, lang ASC LIMIT 3
),
h AS (
  SELECT md.lang, md.doc_id, md.n_chars,
         row_number() OVER (PARTITION BY md.lang
                            ORDER BY md.n_chars DESC, md.doc_id ASC) AS rn
  FROM md JOIN b USING (lang)
)
SELECT 'bylang' AS agg, lang AS key, doc_count,
       CAST(NULL AS DOUBLE) AS value
FROM b
UNION ALL
SELECT 'bylang.top', lang, doc_id, n_chars::DOUBLE FROM h WHERE rn <= 2"""


@gate_query("ft_es_top_hits", _es_top_hits_sql())
def ft_es_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `top_hits` sub-aggregation under terms buckets: the top-2 docs
    per surviving lang bucket by n_chars desc (doc_id tie), flat-contract
    encoded as agg=parent.child, key=bucket, doc_count=the hit's doc_id,
    value=its sort value."""
    from ..plans.dsl import es_aggs

    si = _gate_index(spark, sf_dir)
    body = {"query": {"match": {"text": "merge table"}},
            "aggs": {"bylang": {
                "terms": {"field": "lang", "size": 3},
                "aggs": {"top": {"top_hits": {
                    "size": 2,
                    "sort": [{"n_chars": {"order": "desc"}}]}}}}}}
    return es_aggs(si, body)


def _es_pipeline_sql() -> str:
    return """WITH g AS (
  SELECT (floor(n_chars / 100) * 100)::BIGINT AS k,
         count(*)::BIGINT AS doc_count
  FROM documents GROUP BY 1
),
cs AS (
  SELECT k,
         sum(doc_count) OVER (ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
         doc_count - lag(doc_count) OVER (ORDER BY k) AS d
  FROM g
)
SELECT 'hist' AS agg, k::VARCHAR AS key, doc_count,
       CAST(NULL AS DOUBLE) AS value FROM g
UNION ALL
SELECT 'hist.cum', k::VARCHAR, CAST(NULL AS BIGINT), v::DOUBLE FROM cs
UNION ALL
SELECT 'hist.der', k::VARCHAR, CAST(NULL AS BIGINT), d::DOUBLE
FROM cs WHERE d IS NOT NULL
UNION ALL
SELECT 'total', 'sum_bucket', CAST(NULL AS BIGINT),
       (SELECT sum(doc_count)::DOUBLE FROM g)
UNION ALL
SELECT 'mean', 'avg_bucket', CAST(NULL AS BIGINT),
       (SELECT avg(doc_count)::DOUBLE FROM g)
UNION ALL
SELECT 'pct', '50.0', CAST(NULL AS BIGINT),
       (SELECT quantile_cont(doc_count, 0.5) FROM g)
UNION ALL
SELECT 'pct', '95.0', CAST(NULL AS BIGINT),
       (SELECT quantile_cont(doc_count, 0.95) FROM g)"""


@gate_query("ft_es_pipeline", _es_pipeline_sql())
def ft_es_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pipeline aggregations: nested `cumulative_sum` and
    `derivative` across histogram buckets in key order (the derivative
    skips the first bucket, like ES), plus sibling `sum_bucket` /
    `avg_bucket` / exact `percentiles_bucket` over the same buckets —
    all computed from the bucket relation (bucket-count cardinality),
    never a second pass over the corpus."""
    from ..plans.dsl import es_aggs

    si = _gate_index(spark, sf_dir)
    body = {"aggs": {
        "hist": {"histogram": {"field": "n_chars", "interval": 100},
                 "aggs": {"cum": {"cumulative_sum":
                                  {"buckets_path": "_count"}},
                          "der": {"derivative":
                                  {"buckets_path": "_count"}}}},
        "total": {"sum_bucket": {"buckets_path": "hist>_count"}},
        "mean": {"avg_bucket": {"buckets_path": "hist>_count"}},
        "pct": {"percentiles_bucket": {"buckets_path": "hist>_count",
                                       "percents": [50, 95]}}}}
    return es_aggs(si, body)


def _rank_feature_sql(k: int) -> str:
    return f"""WITH sc AS (
  SELECT doc_id,
         round(2.0 * (n_chars / (n_chars + 200.0)), 6) AS score
  FROM documents WHERE n_chars IS NOT NULL
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_rank_feature", _rank_feature_sql(TOP_K))
def ft_rank_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rank_feature` query: docs carrying the feature field scored
    by boost * saturation(x) = boost * x/(x+pivot) — a pushed-down
    doc-store scan + one Catalyst expression, no postings. The log /
    sigmoid functions and the bool.should composition (via
    function_score) are pytest-covered."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"rank_feature": {
        "field": "n_chars", "boost": 2.0,
        "saturation": {"pivot": 200}}}}
    return es_search(si, body, size=TOP_K)


_XF_TERMS = ["hash", "merge", "window", "table"]
_XF_TIE = 0.25
_XF_TITLE_BOOST = 2.0


def _mm_cross_fields_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(_XF_TERMS)))
    k1, b = bm25.k1, bm25.b
    fields = _field_ctes(_DISMAX_TITLE, "t_") + "," + _field_ctes("text", "b_")
    fields = fields.replace("{k1}", str(k1)).replace("{b}", str(b))
    return f"""WITH docs2 AS (SELECT doc_id, text FROM documents),
q AS (SELECT unnest([{terms_sql}]) AS term),{fields},
bdf AS (
  SELECT q.term,
         greatest(coalesce(t.df, 0), coalesce(bb.df, 0)) AS df
  FROM q LEFT JOIN t_tstats t USING (term)
         LEFT JOIN b_tstats bb USING (term)
),
tp AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (t_stats.n - bdf.df + 0.5) / (bdf.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / t_stats.avgdl))
           * {_XF_TITLE_BOOST} AS p
  FROM t_tf tf JOIN bdf USING (term) JOIN t_dl dl USING (doc_id)
  CROSS JOIN t_stats WHERE bdf.df > 0
),
bp AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (b_stats.n - bdf.df + 0.5) / (bdf.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / b_stats.avgdl)) AS p
  FROM b_tf tf JOIN bdf USING (term) JOIN b_dl dl USING (doc_id)
  CROSS JOIN b_stats WHERE bdf.df > 0
),
pt AS (
  SELECT term, doc_id, max(p) AS mx, sum(p) AS sm
  FROM (SELECT * FROM tp UNION ALL SELECT * FROM bp)
  GROUP BY 1, 2
),
sc AS (
  SELECT doc_id, round(sum(mx + {_XF_TIE} * (sm - mx)), 6) AS score
  FROM pt GROUP BY doc_id
)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_mm_cross_fields", _mm_cross_fields_sql(TOP_K))
def ft_mm_cross_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match `type: cross_fields` over [title^2, text] — the
    term-centric type (Lucene BlendedTermQuery): per-term df blends to
    the max across fields, per-field partials use the blended idf with
    field-local tf norms, per-term combine is max + tie_breaker *
    (sum - max), doc score sums over terms. Served by
    plans.search.search_cross_fields (per-field pruned scans with the
    idf override + the multi-field family's one combine, which sums the
    terms in term order)."""
    from ..plans.dsl import es_search

    idxs = {"title": _gate_title_index(spark, sf_dir),
            "text": _gate_index(spark, sf_dir)}
    body = {"query": {"multi_match": {
        "type": "cross_fields",
        "fields": [f"title^{_XF_TITLE_BOOST}", "text"],
        "query": " ".join(_XF_TERMS),
        "tie_breaker": _XF_TIE}}}
    return es_search(idxs, body, size=TOP_K)


_MBP_FIXED = ["merge"]
_MBP_PREFIX = "ta"
_MBP_MAX = 5


def _match_bool_prefix_sql(k: int, bm25: BM25Config = BM25Config()) -> str:
    k1, b = bm25.k1, bm25.b
    fixed_sql = ", ".join(f"'{t}'" for t in sorted(set(_MBP_FIXED)))
    return f"""WITH {TOKENS_CTE},
dict AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
exp AS (
  SELECT term FROM dict WHERE term LIKE '{_MBP_PREFIX}%'
  ORDER BY df DESC, term ASC LIMIT {_MBP_MAX}
),
q AS (SELECT unnest([{fixed_sql}]) AS term UNION SELECT term FROM exp),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING (term) GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - tstats.df + 0.5) / (tstats.df + 0.5))
           * (tf.tf * ({k1} + 1)) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS p
  FROM tf JOIN tstats USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats
),
sc AS (SELECT doc_id, round(sum(p), 6) AS score FROM parts GROUP BY doc_id)
SELECT (row_number() OVER (ORDER BY score DESC, doc_id ASC) - 1)::BIGINT AS rank,
       doc_id, score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}"""


@gate_query("ft_match_bool_prefix", _match_bool_prefix_sql(TOP_K))
def ft_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_bool_prefix ('merge ta', max_expansions 5): every token
    a bool SHOULD clause, the last a bounded dictionary prefix expansion
    (df desc, term asc — the ES expansion order) scored BM25 per
    expansion (the engine's documented expansion-scoring convention).
    The oracle reproduces the expansion with the same bounded cut."""
    from ..plans.dsl import es_search

    si = _gate_index(spark, sf_dir)
    body = {"query": {"match_bool_prefix": {"text": {
        "query": f"{' '.join(_MBP_FIXED)} {_MBP_PREFIX}",
        "max_expansions": _MBP_MAX}}}}
    return es_search(si, body, size=TOP_K)
