"""Segment-index engine: build + search parity, resume, invariants.

Mirrors the reference's ES-integration tier (SURVEY.md §5) with the pure
oracle in the role of ES, plus the north-rule-specific checks: resume with
zero recomputation, sha256 row invariant, deterministic doc ids.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from newssearchengine_spark.config import IndexConfig
from newssearchengine_spark.datagen import source_files
from newssearchengine_spark.oracle import pure
from newssearchengine_spark.plans.index_build import build_index, completed_buckets
from newssearchengine_spark.plans.search import SegmentIndex
from newssearchengine_spark.sources.corpus import assign_doc_ids

N_DOCS = 1200
CFG = IndexConfig(n_buckets=8, doc_range=200, block_size=16)

QUERIES = [
    ("getUser listNode hashSort", 10),
    ("mapList cacheIndex shard_chunk", 25),
    ("def runScan(readWrite)", 15),   # keywords are stoplisted
    ("zzz_missing_term", 10),
    ("value_count totalDelta pushPull sendRecv", 100),
]


@pytest.fixture(scope="module")
def corpus(spark):
    df = assign_doc_ids(source_files(spark, N_DOCS, seed=42, partitions=8),
                        num_partitions=8).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle(corpus):
    raw = {r["doc_id"]: r["content"]
           for r in corpus.select("doc_id", "content").collect()}
    return pure.OracleIndex.build(raw, CFG.analyzer), raw


@pytest.fixture(scope="module")
def index_dir(corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(corpus, d, CFG, meta_cols=("repo", "path", "commit", "lang"))
    return d


def test_build_stats_match_oracle(index_dir, oracle):
    oidx, _ = oracle
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    assert stats["n_docs"] == oidx.n_docs
    assert stats["avgdl"] == pytest.approx(oidx.avgdl, rel=1e-12)


@pytest.mark.parametrize("mode", ["taat", "wand"])
@pytest.mark.parametrize("query,k", QUERIES)
def test_search_rank_and_score_identical(spark, index_dir, oracle, query, k, mode):
    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    terms = si.analyze_query(query)
    expected = oidx.search(terms, k)
    got = si.search(query, k, mode=mode).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, abs=1e-9)


def test_sha256_invariant(spark, corpus, index_dir):
    """Per-row content sha256 equality input vs doc_store (BASELINE hint)."""
    from pyspark.sql import functions as F

    store = spark.read.parquet(os.path.join(index_dir, "doc_store"))
    joined = corpus.select(
        "doc_id", F.sha2("content", 256).alias("expected")
    ).join(store.select("doc_id", "sha256"), "doc_id")
    n_bad = joined.filter(F.col("expected") != F.col("sha256")).count()
    assert n_bad == 0
    assert store.count() == N_DOCS


def test_resume_zero_recomputation(spark, corpus, oracle, tmp_path):
    """Interrupted build (3 of 8 buckets) resumes: completed bucket files
    untouched (mtime+size), final index equals a cold build row-for-row."""
    d = str(tmp_path / "partial")
    m1 = build_index(corpus, d, CFG, max_buckets=3)
    assert m1["buckets_built"] == 3
    fp = m1["input_fingerprint"]
    assert completed_buckets(d, fp) == {0, 1, 2}

    def file_state(bucket):
        files = sorted(glob.glob(os.path.join(d, "segments", f"bucket={bucket}", "*.parquet")))
        return [(f, os.path.getmtime(f), os.path.getsize(f)) for f in files]

    before = {b: file_state(b) for b in (0, 1, 2)}
    m2 = build_index(corpus, d, CFG)   # resume
    assert m2["buckets_skipped"] == 3
    assert m2["buckets_built"] == 5
    for b in (0, 1, 2):
        assert file_state(b) == before[b], f"bucket {b} was recomputed"

    # resumed index == cold index, content-identical (incl. binary blobs)
    cold = str(tmp_path / "cold")
    build_index(corpus, cold, CFG)
    a = spark.read.parquet(os.path.join(d, "segments"))
    c = spark.read.parquet(os.path.join(cold, "segments"))
    cols = ["bucket", "term", "doc_part", "df", "cf", "docs", "tfs", "dls"]
    rows_a = sorted([tuple(bytes(x) if isinstance(x, (bytes, bytearray)) else x
                           for x in r) for r in a.select(cols).collect()])
    rows_c = sorted([tuple(bytes(x) if isinstance(x, (bytes, bytearray)) else x
                           for x in r) for r in c.select(cols).collect()])
    assert rows_a == rows_c


def test_fingerprint_invalidates_resume(spark, corpus, tmp_path):
    """A changed input invalidates manifests: nothing is skipped."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "idx")
    build_index(corpus, d, CFG, max_buckets=2)
    changed = corpus.withColumn(
        "content", F.concat(F.col("content"), F.lit("\nextraToken"))
    )
    m = build_index(changed, d, CFG)
    assert m["buckets_skipped"] == 0
    assert m["buckets_built"] == CFG.n_buckets


def test_doc_ids_deterministic(spark):
    """Ids are a pure function of the key — independent of partitioning."""
    a = assign_doc_ids(source_files(spark, 300, seed=7, partitions=4),
                       num_partitions=4)
    b = assign_doc_ids(source_files(spark, 300, seed=7, partitions=16),
                       num_partitions=9)
    ra = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in a.collect()}
    rb = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in b.collect()}
    assert ra == rb
    assert sorted(ra.values()) == list(range(300))


def test_point_lookup_and_meta(spark, corpus, index_dir):
    si = SegmentIndex(spark, index_dir)
    got = {r["doc_id"]: r for r in si.get_docs([3, 7, 11]).collect()}
    assert set(got) == {3, 7, 11}
    exp = {r["doc_id"]: r for r in corpus.filter("doc_id in (3,7,11)").collect()}
    for i in (3, 7, 11):
        assert got[i]["repo"] == exp[i]["repo"]
        assert got[i]["path"] == exp[i]["path"]

    rows = si.search("getUser listNode", 5, with_meta=True).collect()
    assert len(rows) == 5
    assert {"rank", "doc_id", "score", "repo", "path", "sha256"} <= set(
        rows[0].asDict()
    )
    assert [r["rank"] for r in rows] == list(range(5))


def test_hot_term_salting_bounds_chunks(spark, tmp_path):
    """North-rule skew handling: a term in EVERY doc must be split across
    doc_part chunks — no chunk (and therefore no build task or query task)
    holds more than doc_range of its postings."""
    from pyspark.sql import functions as F

    n, rng = 1000, 128
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("hotterm everywhere filler"),
                 (F.col("id") % 97).cast("string")).alias("content"),
    )
    d = str(tmp_path / "hot")
    build_index(docs, d, IndexConfig(n_buckets=4, doc_range=rng, block_size=16))
    seg = spark.read.parquet(os.path.join(d, "segments"))
    hot = seg.filter(F.col("term") == "hotterm")
    rows = hot.select("doc_part", "df").collect()
    assert len(rows) == (n + rng - 1) // rng          # one chunk per range
    assert all(r["df"] <= rng for r in rows)           # bounded chunk size
    assert {r["doc_part"] for r in rows} == set(range((n + rng - 1) // rng))
    # and the split index still answers exactly
    si = SegmentIndex(spark, d)
    got = si.search(["hotterm"], 5).collect()
    assert len(got) == 5 and got[0]["rank"] == 0


@pytest.mark.parametrize("mode", ["taat", "wand"])
def test_search_many_matches_sequential(spark, index_dir, oracle, mode):
    """Batched search_many == per-query search, id- and score-identical.

    The batch path is the scale shape (one job amortizes per-query
    overhead); it must not change any ranking."""
    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    queries = {f"q{i}": q for i, (q, _) in enumerate(QUERIES)}
    k = 25
    batch = si.search_many(queries, k, mode=mode).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, q in queries.items():
        got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        expected = si.search(q, k, mode=mode).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in expected]
        for g, e in zip(got, expected):
            assert g["score"] == pytest.approx(e["score"], abs=1e-9)
        # oracle triple-check on the analyzed terms
        oexp = oidx.search(si.analyze_query(q), k)
        assert [r["doc_id"] for r in got] == [d for d, _ in oexp]


def test_search_many_empty_and_missing_queries(spark, index_dir):
    si = SegmentIndex(spark, index_dir)
    out = si.search_many({"a": "zzz_nothing_matches", "b": ""}, 10).collect()
    assert out == []


def test_search_many_dedupes_repeated_queries(spark, index_dir,
                                              monkeypatch):
    """A batch with the same query under many ids (eval-sweep shape) is
    scored once per DISTINCT term list and fanned back out — every alias
    id gets the full per-query result, in both regimes."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir)
    base = {f"q{i}": q for i, (q, _) in enumerate(QUERIES[:2])}
    batch = {f"{qid}_rep{r}": q for qid, q in base.items() for r in range(4)}
    # driver regime, then driver merge, then the distributed window
    for cap in (None, "SEARCH_DRIVER_CAP", "MANY_DRIVER_CAP"):
        if cap is not None:
            monkeypatch.setattr(S, cap, -1)
        got = si.search_many(batch, 15).collect()
        by_q: dict = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        assert set(by_q) == set(batch)
        for qid, q in batch.items():
            rows = sorted(by_q[qid], key=lambda r: r["rank"])
            want = si.search(q, 15).collect()
            assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in want]
            for g, e in zip(rows, want):
                assert g["score"] == pytest.approx(e["score"], abs=1e-9)
    monkeypatch.undo()


def test_search_many_dense_equals_sparse_scorer(spark, index_dir,
                                                monkeypatch):
    """The dense-accumulator batch scorer (doc_range-indexed buffer,
    VERDICT r4 #3) must be row-identical to the sparse unique-sort path
    — same docs, same float64 sums, same ranks."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir)
    queries = {f"q{i}": q for i, (q, _) in enumerate(QUERIES)}
    dense = si.search_many(queries, 25).collect()
    monkeypatch.setattr(S, "DENSE_RANGE_CAP", -1)
    sparse = si.search_many(queries, 25).collect()
    monkeypatch.undo()
    assert dense and sorted(map(tuple, dense)) == sorted(map(tuple, sparse))


def test_search_many_driver_merge_equals_window(spark, index_dir,
                                                monkeypatch):
    """search_many's three regimes (pyarrow driver read under
    SEARCH_DRIVER_CAP; above it a driver merge under MANY_DRIVER_CAP or
    the distributed per-query window) must be row-identical — same raw
    scores, same (score desc, doc_id asc) order, same ranks."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir)
    queries = {f"q{i}": q for i, (q, _) in enumerate(QUERIES)}
    a = si.search_many(queries, 25).collect()
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    b = si.search_many(queries, 25).collect()
    monkeypatch.setattr(S, "MANY_DRIVER_CAP", -1)
    c = si.search_many(queries, 25).collect()
    monkeypatch.undo()
    assert a and sorted(map(tuple, a)) == sorted(map(tuple, b)) \
        == sorted(map(tuple, c))


def test_prefix_expansion_and_search(spark, index_dir, oracle):
    """Prefix expansion: df-desc order, deterministic tie-break, cap
    honored; search_prefix == search over the manual expansion."""
    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    full = si.expand_prefix("get", max_expansions=1000)
    assert full and all(t.startswith("get") for t in full)
    capped = si.expand_prefix("get", max_expansions=2)
    assert capped == full[:2]
    got = si.search_prefix("get", 20, max_expansions=2).collect()
    manual = si.search(capped, 20).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in manual
    ]
    assert si.search_prefix("zzznope", 10).collect() == []


def test_fuzzy_expansion_and_search(spark, index_dir, oracle):
    """Fuzzy expansion: distance-then-df ordering, prefix anchoring, cap;
    search_fuzzy == search over the manual expansion."""
    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    exp = si.expand_fuzzy("usr", max_edits=2, max_expansions=100)
    assert "user" in exp
    anchored = si.expand_fuzzy("usr", max_edits=2, prefix_len=1,
                               max_expansions=100)
    assert set(anchored) <= set(exp)
    assert all(t.startswith("u") for t in anchored)
    got = si.search_fuzzy("usr", 20, max_edits=2, max_expansions=3).collect()
    manual = si.search(si.expand_fuzzy("usr", max_edits=2,
                                       max_expansions=3), 20).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in manual
    ]
    assert si.search_fuzzy("qqqxyzzy", 10).collect() == []


def test_wildcard_expansion_and_search(spark, index_dir):
    """Wildcard: * and ? semantics, literal-prefix pruning parity, cap;
    search_wildcard == search over the manual expansion."""
    import re

    si = SegmentIndex(spark, index_dir)
    all_terms = [r["term"] for r in si._tstats.collect()]
    pattern = "*ser"   # no literal prefix: full-dictionary regex path
    exp = si.expand_wildcard(pattern, max_expansions=1000)
    rx = re.compile("^" + pattern.replace("*", ".*").replace("?", ".") + "$")
    assert set(exp) == {t for t in all_terms if rx.match(t)}
    anchored = si.expand_wildcard("u?er", max_expansions=1000)
    assert "user" in anchored and all(len(t) == 4 for t in anchored)
    got = si.search_wildcard("u?er", 20, max_expansions=2).collect()
    manual = si.search(si.expand_wildcard("u?er", max_expansions=2),
                       20).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in manual
    ]
    assert si.search_wildcard("zz*qq", 10).collect() == []


def test_phrase_indexed_equals_compositional(spark, corpus, index_dir):
    """Indexed phrase search (positional postings, no corpus scan) is rank-
    and score-identical to the compositional higher-order-function path."""
    from pyspark.sql import functions as F

    from newssearchengine_spark.operators.bm25 import phrase_bm25_topk

    si = SegmentIndex(spark, index_dir)
    # (phrase, must_match): splittable vocab identifiers (nodeCursor,
    # shardGroup, streamSort) guarantee real consecutive matches
    cases = [(["node", "cursor"], True), (["shard", "group"], True),
             (["stream", "sort"], True), (["zz_absent", "node"], False)]
    for phrase, must_match in cases:
        a = si.search_phrase(phrase, 20).collect()
        b = (
            phrase_bm25_topk(corpus, phrase, 20, text_col="content",
                             analyzer=CFG.analyzer)
            .select("rank", "doc_id", F.round("score", 6).alias("score"))
            .collect()
        )
        assert [(r["doc_id"], r["score"]) for r in a] == \
               [(r["doc_id"], r["score"]) for r in b]
        assert bool(a) == must_match, phrase


def test_phrase_driver_and_distributed_regimes_identical(
        spark, index_dir, monkeypatch):
    """The phrase top-k has three regimes (pyarrow driver read under
    SEARCH_DRIVER_CAP; above it a one-job gather under
    PHRASE_DRIVER_CAP, or a persisted distributed relation) — same
    Catalyst scoring expressions, so results must be bit-identical. Force
    the other regimes by zeroing the caps and compare."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir)
    cases = [["node", "cursor"], ["shard", "group"]]

    def run():
        return ([si.search_phrase(p, 20).collect() for p in cases]
                + [si.search_phrase_prefix(["node", "c"], 20,
                                           max_expansions=5).collect()])

    driver = run()
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    gather = run()
    monkeypatch.setattr(S, "PHRASE_DRIVER_CAP", -1)
    dist = run()
    monkeypatch.undo()
    for a, b, c in zip(driver, gather, dist):
        assert a and [tuple(r) for r in a] == [tuple(r) for r in b] \
            == [tuple(r) for r in c]


def test_phrase_needs_positions(spark, corpus, tmp_path):
    """An index built without the positional sidecar refuses phrase queries
    with a clear error instead of silently wrong results."""
    import dataclasses

    cfg = dataclasses.replace(CFG, with_positions=False)
    d = str(tmp_path / "nopos")
    build_index(corpus.limit(50), d, cfg, resume=False)
    si = SegmentIndex(spark, d)
    with pytest.raises(ValueError, match="positions"):
        si.search_phrase(["node", "cursor"], 5)


def test_phrase_prefix_matches_oracle(spark, corpus, index_dir, oracle):
    """ES match_phrase_prefix semantics: fixed terms followed by ANY
    dictionary expansion of the last-term prefix (df-desc order, capped),
    scored like phrase BM25 — checked against a pure-Python recomputation."""
    import math

    oidx, raw = oracle
    si = SegmentIndex(spark, index_dir)
    for fixed, prefix, max_exp in ([["node"], "c", 5], [[], "cur", 3]):
        cand = [(t, len(p)) for t, p in oidx.postings.items()
                if t.startswith(prefix)]
        cand.sort(key=lambda x: (-x[1], x[0]))
        alts = {t for t, _ in cand[:max_exp]}
        assert alts
        toks = {d: pure.analyze(t, CFG.analyzer) for d, t in raw.items()}
        occ = {}
        for d, ts in toks.items():
            n = 0
            for i in range(len(ts) - len(fixed)):
                if ts[i:i + len(fixed)] == fixed and ts[i + len(fixed)] in alts:
                    n += 1
            if n:
                occ[d] = n
        assert occ, "fixture must have phrase-prefix matches"
        N, avgdl = oidx.n_docs, oidx.avgdl
        dfp = len(occ)
        idf = math.log1p((N - dfp + 0.5) / (dfp + 0.5))

        def score(d):
            o, dl = occ[d], len(toks[d])
            return round(idf * o * 2.2 / (o + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)

        expected = sorted(((d, score(d)) for d in occ),
                          key=lambda x: (-x[1], x[0]))[:20]
        got = si.search_phrase_prefix(fixed + [prefix], 20,
                                      max_expansions=max_exp).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == expected


def test_index_explain_partials_sum_to_scores(spark, index_dir):
    """Engine-path BM25 explain (es.explain analog, ranking.py:40-52):
    per-term partials over the requested docs sum exactly to search()'s
    scores, and idf matches the Lucene formula from global df."""
    import math

    si = SegmentIndex(spark, index_dir)
    q = ["get", "user", "node"]
    top = si.search(q, 8).collect()
    assert top
    ids = [r["doc_id"] for r in top]
    ex = si.explain(q, ids).collect()
    got = {}
    for r in ex:
        got[r["doc_id"]] = got.get(r["doc_id"], 0.0) + r["partial"]
    for r in top:
        assert got[r["doc_id"]] == pytest.approx(r["score"], abs=1e-9)
    dfs = si.term_dfs(sorted(set(q)))
    n = si.stats["n_docs"]
    for r in ex:
        want_idf = math.log1p((n - dfs[r["term"]] + 0.5) / (dfs[r["term"]] + 0.5))
        assert r["idf"] == pytest.approx(want_idf, rel=1e-12)
        assert r["tf"] >= 1 and r["dl"] >= 1


def test_indexed_dismax_matches_compositional(spark, corpus, tmp_path):
    """search_dismax over per-field segment indexes == the compositional
    dismax_bm25_topk (field-local stats, max + tie * others), rank- and
    rounded-score-identical, without re-tokenizing the corpus."""
    from pyspark.sql import functions as F

    from newssearchengine_spark.operators.bm25 import dismax_bm25_topk
    from newssearchengine_spark.plans.search import search_dismax

    two = corpus.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("content"), " "), 1, 6), " ")
        .alias("title"),
        F.col("content").alias("body"),
    ).persist()
    idxs = {}
    for fld in ("title", "body"):
        d = str(tmp_path / f"dismax_{fld}")
        build_index(two, d, CFG, text_col=fld, resume=False)
        idxs[fld] = SegmentIndex(spark, d)
    terms = ["node", "cursor", "shard"]
    got = search_dismax(idxs, terms, 25, tie_breaker=0.3).collect()
    want = (
        dismax_bm25_topk(two, terms, 25, fields=["title", "body"],
                         tie_breaker=0.3, analyzer=CFG.analyzer)
        .collect()
    )
    assert got, "fixture terms must match"
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], round(r["score"], 6)) for r in want]
    two.unpersist()


def test_dismax_pruned_equals_full_and_prunes(spark, corpus, tmp_path,
                                              monkeypatch):
    """VERDICT r3 #3: the threshold-algorithm DisMax must (a) return
    exactly the full-join result across queries and tie_breakers, and
    (b) actually fetch FEWER candidate docs than the hot term's posting
    coverage on a skewed fixture (the rank-safe pruning is real, not a
    pass-through)."""
    from pyspark.sql import functions as F

    import newssearchengine_spark.plans.search as S

    two = corpus.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("content"), " "), 1, 6), " ")
        .alias("title"),
        F.col("content").alias("body"),
    ).persist()
    idxs = {}
    for fld in ("title", "body"):
        d = str(tmp_path / f"dmx_{fld}")
        build_index(two, d, CFG, text_col=fld, resume=False)
        idxs[fld] = SegmentIndex(spark, d)

    fetched: list[int] = []
    orig = S.SegmentIndex._scores_for_docs

    def spy(self, terms, doc_ids):
        fetched.append(int(doc_ids.size))
        return orig(self, terms, doc_ids)

    monkeypatch.setattr(S.SegmentIndex, "_scores_for_docs", spy)
    for terms, tb in ([["node", "cursor", "shard"], 0.0],
                      [["node", "cursor", "shard"], 0.3],
                      [["value", "cursor"], 1.0]):
        got = S.search_dismax(idxs, terms, 10, tie_breaker=tb).collect()
        want = S.search_dismax(idxs, terms, 10, tie_breaker=tb,
                               prune=False).collect()
        assert got and [tuple(r) for r in got] == [tuple(r) for r in want]
    # skew proof: 'value' is a hot body term; the pruned fetch must touch
    # far fewer docs than its posting coverage
    hot_df = idxs["body"].term_dfs(["value"])["value"]
    assert hot_df > 100, "fixture must have a hot term"
    assert fetched and max(fetched) < hot_df


def test_bool_minimum_should_match(spark, index_dir, oracle, monkeypatch):
    """minimum_should_match: docs must match >= m DISTINCT should terms.
    Checked against the pure-oracle posting sets, and the capped pruned
    path against the distributed semi-join plan."""
    import newssearchengine_spark.plans.search as S

    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    should = ["node", "cursor", "shard", "stream"]
    res = {m: si.search_bool(should=should, k=N_DOCS + 1,
                             minimum_should_match=m).collect()
           for m in (0, 2, 3)}
    match_counts = {}
    for t in should:
        for d in oidx.postings.get(t, {}):
            match_counts[d] = match_counts.get(d, 0) + 1
    for m in (2, 3):
        want_ids = {d for d, c in match_counts.items() if c >= m}
        assert {r["doc_id"] for r in res[m]} == want_ids, m
        # scores are the plain should-sum, unchanged by the constraint
        base = {r["doc_id"]: r["score"] for r in res[0]}
        for r in res[m]:
            assert r["score"] == base[r["doc_id"]]
    assert len(res[0]) > len(res[2]) > len(res[3])  # constraint bites
    monkeypatch.setattr(S, "BOOL_DRIVER_CAP", -1)
    dist = si.search_bool(should=should, k=N_DOCS + 1,
                          minimum_should_match=2).collect()
    monkeypatch.undo()
    assert sorted(map(tuple, dist)) == sorted(map(tuple, res[2]))
    # msm composes with must + must_not through both regimes
    a = si.search_bool(must=["node"], should=should, must_not=["proto"],
                       k=50, minimum_should_match=2).collect()
    monkeypatch.setattr(S, "BOOL_DRIVER_CAP", -1)
    b = si.search_bool(must=["node"], should=should, must_not=["proto"],
                       k=50, minimum_should_match=2).collect()
    monkeypatch.undo()
    assert a and sorted(map(tuple, a)) == sorted(map(tuple, b))
    # msm exceeding the distinct should terms matches NOTHING in ES —
    # an adapter-submitted body must get an empty hit set, not a crash
    assert si.search_bool(should=["node"], k=5,
                          minimum_should_match=2).collect() == []


def test_dismax_field_boosts(spark, corpus, tmp_path):
    """ES field boosts (title^3): per-field scores scale by the boost
    before the combine; pruned == full; a dominant boost reorders toward
    that field's own ranking."""
    from pyspark.sql import functions as F

    from newssearchengine_spark.plans.search import search_dismax

    two = corpus.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("content"), " "), 1, 6), " ")
        .alias("title"),
        F.col("content").alias("body"),
    ).persist()
    idxs = {}
    for fld in ("title", "body"):
        d = str(tmp_path / f"boost_{fld}")
        build_index(two, d, CFG, text_col=fld, resume=False)
        idxs[fld] = SegmentIndex(spark, d)
    terms = ["node", "cursor", "shard"]
    boosts = {"title": 3.0, "body": 0.5}
    got = search_dismax(idxs, terms, 20, tie_breaker=0.2,
                        boosts=boosts).collect()
    full = search_dismax(idxs, terms, 20, tie_breaker=0.2, boosts=boosts,
                         prune=False).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in full]
    plain = search_dismax(idxs, terms, 20, tie_breaker=0.2).collect()
    assert [r["doc_id"] for r in got] != [r["doc_id"] for r in plain] or \
        [r["score"] for r in got] != [r["score"] for r in plain]
    with pytest.raises(ValueError, match=">= 0"):
        search_dismax(idxs, terms, 5, boosts={"title": -1.0})
    two.unpersist()


def test_dismax_threshold_proof_failure_escalates_then_falls_back(
        spark, tmp_path, monkeypatch):
    """When the per-field pools cannot prove exclusion, search_dismax
    must ESCALATE k' (VERDICT r4 #1) — once the pool covers the score
    plateau the fields exhaust and the pruned regime serves the query —
    and only a plateau wider than DISMAX_KPRIME_CAP pays the exact
    full-join fallback. Results identical to prune=False either way."""
    import newssearchengine_spark.plans.search as S

    # 60 IDENTICAL docs: every match scores the same, so with more
    # matches than k' the k-th candidate can never sit STRICTLY above the
    # threshold row — the proof must fail deterministically
    same = spark.createDataFrame(
        [(i, "node cursor alpha beta") for i in range(60)],
        "doc_id bigint, body string",
    )
    idxs = {}
    for fld in ("body",):
        d = str(tmp_path / f"fb_{fld}")
        build_index(same, d, CFG, text_col=fld, resume=False)
        idxs[fld] = SegmentIndex(spark, d)
    calls = []
    orig = S._dismax_pruned

    def spy(*a, **kw):
        out = orig(*a, **kw)
        calls.append((kw.get("kprime"), out is None))
        return out

    monkeypatch.setattr(S, "_dismax_pruned", spy)
    monkeypatch.setattr(S, "DISMAX_KPRIME_FLOOR", 1)
    want = S.search_dismax(idxs, ["node"], 1, tie_breaker=0.3,
                           prune=False).collect()
    got = S.search_dismax(idxs, ["node"], 1, tie_breaker=0.3).collect()
    # k'=2 fails (plateau), k'=16 fails, k'=128 >= 60 docs -> exhausted
    # -> the PRUNED regime serves; the full join never runs
    assert [f for _, f in calls] == [True, True, False]
    assert calls[-1][0] == 128
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want]
    # a plateau wider than the cap: the ladder gives up and the exact
    # full-relation fallback serves, still identical
    calls.clear()
    monkeypatch.setattr(S, "DISMAX_KPRIME_CAP", 4)
    got2 = S.search_dismax(idxs, ["node"], 1, tie_breaker=0.3).collect()
    monkeypatch.undo()
    assert [f for _, f in calls] == [True, True]  # 2 then capped 4, both fail
    assert got2 and [tuple(r) for r in got2] == [tuple(r) for r in want]


def test_bool_pruned_equals_distributed(spark, index_dir, monkeypatch):
    """The capped bool path (per-part clause intersection + candidate
    scoring) equals the distributed semi-join plan exactly."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir)
    cases = [
        (["node", "cursor"], ["shard"], ["stream"]),
        ([["node", "shard"], "cursor"], ["group"], []),
        (["group"], [], ["proto"]),
    ]
    pruned = [si.search_bool(must=m, should=s, must_not=n, k=25).collect()
              for m, s, n in cases]
    monkeypatch.setattr(S, "BOOL_DRIVER_CAP", -1)
    dist = [si.search_bool(must=m, should=s, must_not=n, k=25).collect()
            for m, s, n in cases]
    monkeypatch.undo()
    for a, b, c in zip(pruned, dist, cases):
        assert a and [tuple(r) for r in a] == [tuple(r) for r in b], c


def test_search_mixed_degenerates_to_bool_and_disjunction(spark, index_dir):
    """search_mixed sanity anchors: a single AND-group equals
    search_bool(must=...); all-singleton groups equal the plain
    disjunction search() — same docs, scores, ranks."""
    si = SegmentIndex(spark, index_dir)
    one_group = si.search_mixed([[["node"], ["cursor"]]], k=25).collect()
    want_bool = si.search_bool(must=[["node"], ["cursor"]], k=25).collect()
    assert one_group and \
        [tuple(r) for r in one_group] == [tuple(r) for r in want_bool]
    singles = si.search_mixed([[["node"]], [["cursor"]], [["shard"]]],
                              k=25).collect()
    # search() returns unrounded scores; search_mixed rounds 6dp before
    # its cut — compare docs/ranks exactly and scores at the rounding
    want_or = si.search(["node", "cursor", "shard"], 25).collect()
    assert singles and [(r["rank"], r["doc_id"]) for r in singles] == \
        [(r["rank"], r["doc_id"]) for r in want_or]
    for a, b in zip(singles, want_or):
        assert a["score"] == pytest.approx(b["score"], abs=1e-6)
    # dead group drops; dead-term-only query is empty, not an error
    with_dead = si.search_mixed(
        [[["node"], ["cursor"]], [["zzz_missing_term"]]], k=25).collect()
    assert [tuple(r) for r in with_dead] == [tuple(r) for r in one_group]
    assert si.search_mixed([[["zzz_missing_term"]]], k=5).collect() == []


def test_no_row_at_a_time_python_udfs():
    """BASELINE input_hint mandates 'no per-row Python': the package must
    contain no row-at-a-time F.udf usage and no RDD drop-downs — every
    JVM/Python crossing is an Arrow-batched pandas UDF / mapInPandas /
    applyInPandas."""
    import pathlib
    import re

    import newssearchengine_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    bad = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        if re.search(r"\bF\.udf\(|\bfunctions\.udf\(|^\s*@udf\b", src,
                     re.MULTILINE):
            bad.append(f"{p}: row-at-a-time udf")
        if re.search(r"\.rdd\b", src):
            bad.append(f"{p}: rdd drop-down")
    assert not bad, bad


def test_indexed_bool_matches_compositional(spark, corpus, index_dir):
    """search_bool from the index == the compositional bool_bm25_topk:
    must = AND constraint, must_not = exclusion, should adds score —
    rank- and rounded-score-identical, all index reads."""
    from pyspark.sql import functions as F

    from newssearchengine_spark.operators.bm25 import bool_bm25_topk

    si = SegmentIndex(spark, index_dir)
    cases = [
        (["node", "cursor"], ["shard"], ["stream"]),
        (["group"], [], ["proto"]),
        ([], ["node", "shard"], []),
        (["zz_absent"], ["node"], []),
    ]
    for must, should, must_not in cases:
        a = si.search_bool(must=must, should=should, must_not=must_not,
                           k=25).collect()
        b = (
            bool_bm25_topk(corpus, must=must, should=should,
                           must_not=must_not, k=25, text_col="content",
                           analyzer=CFG.analyzer)
            .select("rank", "doc_id", F.round("score", 6).alias("score"))
            .collect()
        )
        assert [(r["doc_id"], r["score"]) for r in a] == \
               [(r["doc_id"], r["score"]) for r in b], (must, should, must_not)


def test_term_vectors_and_indexed_keywords(spark, corpus, oracle, tmp_path):
    """The forward index (term_vector:'yes' analog): stored term vectors
    equal the analyzer's term counts per doc, and index-path tf-idf
    keyword extraction equals the pure-oracle recomputation of the
    reference's termvectors query formulation (wapo/parser.py:10-47)."""
    import dataclasses
    from collections import Counter

    oidx, raw = oracle
    cfg = dataclasses.replace(CFG, with_term_vectors=True)
    d = str(tmp_path / "tv_idx")
    build_index(corpus, d, cfg, resume=False)
    si = SegmentIndex(spark, d)

    ids = [0, 5, 17, 100, 999]
    got = {}
    for r in si.term_vectors(ids).collect():
        got[(r["doc_id"], r["term"])] = (r["tf"], r["dl"])
    expected = {}
    for doc_id in ids:
        toks = pure.analyze(raw[doc_id], CFG.analyzer)
        for t, n in Counter(toks).items():
            expected[(doc_id, t)] = (n, len(toks))
    assert got == expected

    kws = {}
    for r in si.keywords_tf_idf(ids, min_tf=2, min_df=5, top_n=3).collect():
        kws.setdefault(r["doc_id"], []).append((r["term"], r["kscore"]))
    want = {}
    for doc_id in ids:
        toks = Counter(pure.analyze(raw[doc_id], CFG.analyzer))
        scored = []
        for t, tf in toks.items():
            df = len(oidx.postings.get(t, {}))
            if tf >= 2 and df >= 5:
                scored.append((t, round(tf * oidx.idf(t), 6)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        if scored[:3]:
            want[doc_id] = scored[:3]
    assert kws == want


def test_term_vectors_opt_in(spark, index_dir):
    """Indexes built without with_term_vectors refuse forward-index reads
    with a clear error (the ES term_vector:'yes' opt-in semantics)."""
    si = SegmentIndex(spark, index_dir)
    with pytest.raises(ValueError, match="term_vectors"):
        si.term_vectors([0])

def test_indexed_significant_terms_matches_compositional(spark, corpus,
                                                         tmp_path):
    """significant_terms from the index (postings foreground + term-vector
    fg df + dictionary bg df) == the compositional JLH aggregation."""
    import dataclasses

    from newssearchengine_spark.operators.bm25 import significant_terms

    cfg = dataclasses.replace(CFG, with_term_vectors=True)
    d = str(tmp_path / "sig_idx")
    build_index(corpus, d, cfg, resume=False)
    si = SegmentIndex(spark, d)
    # mid-df terms: the foreground must be a PROPER subset of the corpus,
    # otherwise no term is over-represented and both sides are empty
    qterms = ["field", "index", "load"]
    a = si.significant_terms(qterms, 12).collect()
    b = significant_terms(corpus, qterms, 12, text_col="content",
                          analyzer=CFG.analyzer).collect()
    assert a and [(r["term"], r["fg_df"], r["bg_df"], r["score"])
                  for r in a] == \
                 [(r["term"], r["fg_df"], r["bg_df"], r["score"])
                  for r in b]


def test_hot_cache_excludes_positions(spark, corpus, index_dir,
                                     monkeypatch):
    """Cache split: disjunction queries never touch the positional
    sidecar — the hot persisted segment relation has no positions column,
    and the positional cache only materializes on the first DISTRIBUTED
    phrase query (column pruning that reaches executor MEMORY, not just
    the scan); a driver-regime phrase reads positions with pyarrow and
    leaves it lazy."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir).warm()
    assert "positions" not in si._segments.columns
    assert not si._pos_cached
    assert si.search(["node", "cursor"], 5).count() > 0
    assert si.search_bool(must=["node"], k=5).count() >= 0
    assert not si._pos_cached  # still lazy after non-phrase traffic
    assert si.search_phrase(["node", "cursor"], 5).count() >= 0
    assert not si._pos_cached  # driver regime: no executor cache
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    assert si.search_phrase(["node", "cursor"], 5).count() >= 0
    assert si._pos_cached
    assert "positions" in si._pos_segments().columns


def test_close_releases_all_caches(spark, corpus, tmp_path):
    """close() drops every cache the handle pinned (hot + term stats +
    the lazily-persisted positional sidecar) and the handle remains
    usable uncached. Built over its OWN index dir: the CacheManager
    dedupes identical plans, so a shared fixture index would alias other
    handles' cache entries and hide this handle's."""
    index_dir = str(tmp_path / "own_idx")
    build_index(corpus.limit(80), index_dir, CFG, resume=False)
    def cached_ids() -> set:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
        out = set()
        while it.hasNext():
            out.add(int(str(it.next())))
        return out

    # compare ID SETS, not counts: the shared session's ContextCleaner
    # may asynchronously drop OTHER tests' dereferenced caches mid-test
    before = cached_ids()
    si = SegmentIndex(spark, index_dir).warm()
    si.search_phrase(["node", "cursor"], 5).count()  # pins the pos cache
    assert cached_ids() - before  # this handle pinned something new
    top = si.search(["node", "cursor"], 5).collect()
    si.close()
    assert not (cached_ids() - before)  # everything it pinned is gone
    again = si.search(["node", "cursor"], 5).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in top]


def test_bool_filter_context(spark, corpus, index_dir, oracle, monkeypatch):
    """ES bool FILTER CONTEXT: term + metadata filters constrain hits
    without scoring. Full-oracle expected set; pruned == distributed ==
    compositional; scores identical to the unfiltered query's."""
    from pyspark.sql import functions as F

    import newssearchengine_spark.plans.search as S
    from newssearchengine_spark.operators.bm25 import bool_bm25_topk

    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    meta = {r["doc_id"]: r for r in
            si.doc_store().select("doc_id", "lang", "content_len").collect()}
    filt = [["shard", "stream"], {"term": {"lang": "py"}},
            {"range": {"content_len": {"gte": 100}}}]

    def passes(d: int) -> bool:
        m = meta[d]
        in_terms = (d in oidx.postings.get("shard", {})
                    or d in oidx.postings.get("stream", {}))
        return in_terms and m["lang"] == "py" and m["content_len"] >= 100

    base = si.search_bool(must=["node"], should=["cursor"],
                          k=N_DOCS + 1).collect()
    want = [(r["doc_id"], r["score"]) for r in base if passes(r["doc_id"])]
    want.sort(key=lambda t: (-t[1], t[0]))
    got = si.search_bool(must=["node"], should=["cursor"], k=25,
                         filter=filt).collect()
    assert got and [(r["doc_id"], r["score"]) for r in got] == want[:25]
    assert [r["rank"] for r in got] == list(range(len(got)))
    # filters bit: the unfiltered top-25 differs
    assert {r["doc_id"] for r in base[:25]} != {r["doc_id"] for r in got}

    monkeypatch.setattr(S, "BOOL_DRIVER_CAP", -1)
    dist = si.search_bool(must=["node"], should=["cursor"], k=25,
                          filter=filt).collect()
    monkeypatch.undo()
    assert [tuple(r) for r in dist] == [tuple(r) for r in got]

    comp = bool_bm25_topk(
        corpus, must=["node"], should=["cursor"],
        filter_terms=[["shard", "stream"]],
        filter_pred=(F.col("lang") == "py")
        & (F.length("content") >= 100),
        k=25, text_col="content",
    ).collect()
    assert [tuple(r) for r in comp] == [tuple(r) for r in got]


def test_bool_filter_zero_score_hits(spark, corpus, index_dir, oracle,
                                     monkeypatch):
    """With a filter present and no must, ES's minimum_should_match
    defaults to 0: filter-admitted docs matching no should term are hits
    at score 0.0, ranked after every scored doc on doc_id asc. The
    distributed cogroup regime (no term constraint -> no proven bound)
    and the compositional left-join+coalesce agree."""
    from pyspark.sql import functions as F

    from newssearchengine_spark.operators.bm25 import bool_bm25_topk

    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    meta = {r["doc_id"]: r["lang"] for r in
            si.doc_store().select("doc_id", "lang").collect()}
    admits = sorted(d for d, g in meta.items() if g == "rs")
    scored = {d for d in admits if d in oidx.postings.get("group", {})}
    assert scored and len(admits) > len(scored), "fixture needs both kinds"

    k = len(admits) + 5
    got = si.search_bool(should=["group"], k=k,
                         filter=[{"term": {"lang": "rs"}}]).collect()
    assert {r["doc_id"] for r in got} == set(admits)
    zeros = [r for r in got if r["score"] == 0.0]
    assert {r["doc_id"] for r in zeros} == set(admits) - scored
    # zero-score tail is doc_id-ascending and AFTER every scored hit
    assert [r["doc_id"] for r in zeros] == sorted(set(admits) - scored)
    n_scored = len(got) - len(zeros)
    assert all(r["score"] > 0.0 for r in got[:n_scored])

    comp = bool_bm25_topk(corpus, should=["group"],
                          filter_pred=F.col("lang") == "rs",
                          k=k, text_col="content").collect()
    assert [tuple(r) for r in comp] == [tuple(r) for r in got]

    # k smaller than the zero tail: the cut keeps the smallest doc_ids
    small = si.search_bool(should=["group"], k=n_scored + 2,
                           filter=[{"term": {"lang": "rs"}}]).collect()
    assert [tuple(r) for r in small] == \
        [tuple(r) for r in got[:n_scored + 2]]


def test_bool_filter_only_and_edges(spark, corpus, index_dir, oracle):
    """Filter-only bools: metadata-only takes the pure-Catalyst
    doc_store path; term-only rides the pruned intersector; both return
    score 0.0 in doc_id order. Dead filters return empty, never raise."""
    from pyspark.sql import functions as F

    import newssearchengine_spark.plans.search as S
    from newssearchengine_spark.operators.bm25 import bool_bm25_topk

    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    meta = {r["doc_id"]: r["lang"] for r in
            si.doc_store().select("doc_id", "lang").collect()}

    only_meta = si.search_bool(k=10, filter=[{"term": {"lang": "go"}}])
    rows = only_meta.collect()
    want = sorted(d for d, g in meta.items() if g == "go")[:10]
    assert [r["doc_id"] for r in rows] == want
    assert all(r["score"] == 0.0 for r in rows)
    comp = bool_bm25_topk(corpus, filter_pred=F.col("lang") == "go",
                          k=10, text_col="content").collect()
    assert [tuple(r) for r in comp] == [tuple(r) for r in rows]

    only_term = si.search_bool(k=15, filter=[["proto"]]).collect()
    want_t = sorted(oidx.postings.get("proto", {}))[:15]
    assert [r["doc_id"] for r in only_term] == want_t
    assert all(r["score"] == 0.0 for r in only_term)
    comp_t = bool_bm25_topk(corpus, filter_terms=["proto"], k=15,
                            text_col="content").collect()
    assert [tuple(r) for r in comp_t] == [tuple(r) for r in only_term]

    # dead term filter / impossible metadata filter -> empty
    assert si.search_bool(must=["node"], k=5,
                          filter=[["zzz_missing_term"]]).collect() == []
    assert si.search_bool(must=["node"], k=5,
                          filter=[{"term": {"lang": "cobol"}}]
                          ).collect() == []
    # msm composes with filters across both regimes
    a = si.search_bool(should=["node", "cursor", "shard"], k=40,
                       minimum_should_match=2,
                       filter=[{"term": {"lang": "py"}}]).collect()
    import pytest as _pytest
    mp = _pytest.MonkeyPatch()
    mp.setattr(S, "BOOL_DRIVER_CAP", -1)
    b = si.search_bool(should=["node", "cursor", "shard"], k=40,
                       minimum_should_match=2,
                       filter=[{"term": {"lang": "py"}}]).collect()
    mp.undo()
    assert a and [tuple(r) for r in a] == [tuple(r) for r in b]
    for r in a:  # msm still bites: >= 2 distinct should terms, lang py
        n = sum(r["doc_id"] in oidx.postings.get(t, {})
                for t in ("node", "cursor", "shard"))
        assert n >= 2 and meta[r["doc_id"]] == "py"


def test_by_part_single_exchange(spark, index_dir):
    """_by_part's explicit-width repartition must SATISFY the groupBy's
    clustering, not stack a second shuffle: exactly one
    hashpartitioning(doc_part) exchange in the search plan, and its
    width exceeds the session's shuffle.partitions (the skew fix is
    actually active on this few-part fixture)."""
    import re

    si = SegmentIndex(spark, index_dir)
    # wand mode pins the DISTRIBUTED plan (taat under SEARCH_DRIVER_CAP
    # takes the driver regime, which has no exchange to inspect)
    plan = (si.search(["node", "cursor"], 10, mode="wand")
            ._jdf.queryExecution().executedPlan().toString())
    ex = re.findall(r"Exchange hashpartitioning\(doc_part[^)]*, (\d+)\)",
                    plan)
    assert len(ex) == 1, plan[:2000]
    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert int(ex[0]) > conf  # widened, not the session default


REGIME_QUERIES = [["node", "cursor"], ["shard", "group", "stream"]]
REGIME_BATCH = {"a": ["node", "cursor"], "b": ["shard", "group", "stream"],
                "c": ["node", "cursor"]}
# one call per driver-regime path beyond plain search: phrase at slop 0
# and > 0, the serve benchmark's nested bool (nested should + should +
# a `term: lang` filter), a bool with a phrase leaf, a must_not-only node
# and search_many with duplicate bodies at k 100/300
REGIME_CALLS = [
    lambda si: si.search_phrase(["node", "cursor"], 20),
    lambda si: si.search_phrase(["shard", "group"], 20, slop=2),
    lambda si: si.search_bool_tree(
        {"must": [{"should": [["node"], ["cursor"]]}],
         "should": [["shard", "group"]],
         "filter": [{"term": {"lang": "py"}}]}, 20),
    lambda si: si.search_bool_tree(
        {"must": [{"phrase": ["node", "cursor"]}], "should": [["shard"]]},
        20),
    lambda si: si.search_bool_tree({"must_not": [["node", "cursor"]]}, 20),
    lambda si: si.search_many(REGIME_BATCH, 100),
    lambda si: si.search_many(REGIME_BATCH, 300),
]


@pytest.fixture(scope="module")
def tombstoned_dir(spark, index_dir, tmp_path_factory):
    """A copy of the index with some top hits of REGIME_QUERIES deleted
    (tombstones only, not compacted), so ranked reads go through _live."""
    import shutil

    from newssearchengine_spark.plans.delete import delete_docs

    d = str(tmp_path_factory.mktemp("tomb") / "idx")
    shutil.copytree(index_dir, d)
    si = SegmentIndex(spark, d, cache=False)
    dead = [7, 600]
    for q in REGIME_QUERIES:
        dead += [r["doc_id"] for r in si.search(q, 6).collect()][::2]
    delete_docs(spark, d, sorted(set(dead)))
    return d


def test_search_driver_and_distributed_regimes_identical(
        spark, index_dir, tombstoned_dir, monkeypatch):
    """Plain taat search, the phrase paths, the nested-bool tree and
    search_many each have a driver regime (pyarrow read + the SAME
    per-part closure on the driver under SEARCH_DRIVER_CAP on a warm
    index) and distributed plans above it, so results must be
    identical. Force the distributed regimes by zeroing the cap and
    compare, including the search_after cursor cut and with_meta join,
    on a clean index and on a tombstoned one. On the tombstoned index
    _live's pandas re-rank must also equal its Spark-window form (forced
    by zeroing DELETED_ISIN_CAP)."""
    import newssearchengine_spark.plans.search as S

    def run(si, cur=None):
        rows = [si.search(q, 20, mode="taat").collect()
                for q in REGIME_QUERIES]
        cur = cur or (rows[0][4]["score"], rows[0][4]["doc_id"])
        rows.append(si.search(REGIME_QUERIES[0], 10, mode="taat",
                              after=cur).collect())
        rows.append(si.search(REGIME_QUERIES[0], 5, mode="taat",
                              with_meta=True).collect())
        # ranks are in the rows, so sorting (search_many's window regime
        # returns no fixed order) still pins the ranking
        rows += [sorted(call(si).collect()) for call in REGIME_CALLS]
        assert all(rows)
        return [[tuple(r) for r in rs] for rs in rows], cur

    for d in (index_dir, tombstoned_dir):
        si = SegmentIndex(spark, d)
        driver, cur = run(si)
        monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
        assert run(si, cur)[0] == driver
        monkeypatch.undo()
        assert bool(si.n_deleted()) == (d == tombstoned_dir)
        if si.n_deleted():
            dead = set(si._tombstones()[1].tolist())
            assert not any(r[1] in dead for rs in driver[:3] for r in rs)
            monkeypatch.setattr(S, "DELETED_ISIN_CAP", -1)
            assert run(si, cur)[0] == driver
            monkeypatch.undo()
        si.close()


def test_search_driver_regime_runs_no_spark_job(
        spark, index_dir, tombstoned_dir):
    """A driver-regime search, phrase, nested bool or search_many on a
    warm index reads its postings (and doc-store columns) with pyarrow
    and builds its result as a local relation: neither the call nor
    collect() launches a Spark job, with or without tombstones. Empty
    answers (an absent phrase term, an unsatisfiable msm, a batch of
    absent terms) are zero-row Arrow tables, job-free too."""
    import time

    empty_calls = [
        lambda si: si.search_phrase(["node", "zzz_absent"], 10),
        lambda si: si.search_bool(should=["node", "cursor"], k=10,
                                  minimum_should_match=3),
        lambda si: si.search_bool_tree(
            {"should": [["node"]], "minimum_should_match": 2}, 10),
        lambda si: si.search_many({"a": ["zzz_absent"]}, 10),
    ]
    sc = spark.sparkContext
    for i, d in enumerate((index_dir, tombstoned_dir)):
        si = SegmentIndex(spark, d).warm()
        assert si.search(REGIME_QUERIES[0], 10).collect()
        group = f"driver-regime-{i}"
        sc.setJobGroup(group, group)
        try:
            for q in REGIME_QUERIES:
                assert si.search(q, 10).collect()
            for call in REGIME_CALLS:
                assert call(si).collect()
            for call in empty_calls:
                assert not call(si).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(1.0)  # let the listener bus deliver any job start
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        si.close()


def test_tombstone_memo_consistent_under_threads(spark, index_dir,
                                                 tmp_path):
    """Reader threads refresh the tombstone memo while deletes land (the
    serve_mixed shape: clients share one handle). Every _tombstones()
    call must return an id set holding every id whose sidecar file was
    in place when the call began — a reader must never pair a new
    listing with a stale id set — and T must be that set's size."""
    import shutil
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "idx")
    shutil.copytree(index_dir, d)
    si = SegmentIndex(spark, d, cache=False)
    tdir = os.path.join(d, "tombstones")
    os.makedirs(tdir, exist_ok=True)
    written: list[int] = []   # ids whose file is in place
    done = threading.Event()
    bad = []

    def reader():
        while not done.is_set():
            before = set(written[:])
            T, ids, _ = si._tombstones()
            got = set() if ids is None else set(ids.tolist())
            if T != len(got) or not before <= got:
                bad.append((len(before), T))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader)
               for _ in range(2 * (os.cpu_count() or 2))]
    try:
        for t in threads:
            t.start()
        for i in range(150):
            tmp = os.path.join(tdir, f".tmp-{i}")
            pq.write_table(pa.table({"doc_id": pa.array([i], pa.int64())}),
                           tmp)
            os.replace(tmp, os.path.join(tdir, f"del-{i:04d}.parquet"))
            written.append(i)
    finally:
        done.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not bad, bad[:5]
    assert si.n_deleted() == 150
