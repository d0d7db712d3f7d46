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
from newssearchengine_spark.plans.dsl import es_search
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


def test_resume_zero_recomputation(spark, corpus, oracle, tmp_path,
                                   write_placement):
    """Interrupted build (3 of 8 buckets) resumes: completed bucket files
    untouched (mtime+size), final index equals a cold build row-for-row —
    in both write placements."""
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


def test_fingerprint_invalidates_resume(spark, corpus, tmp_path,
                                        write_placement):
    """A changed input invalidates manifests: nothing is skipped — in
    both write placements."""
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
    # driver regime, then the distributed per-query window
    for cap in (None, "SEARCH_DRIVER_CAP"):
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


def test_search_many_driver_equals_window(spark, index_dir, monkeypatch):
    """search_many's two placements (pyarrow driver read and numpy merge
    under SEARCH_DRIVER_CAP; above it the distributed per-query window)
    must be row-identical — same raw scores, same (score desc, doc_id
    asc) order, same ranks."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir)
    queries = {f"q{i}": q for i, (q, _) in enumerate(QUERIES)}
    a = si.search_many(queries, 25).collect()
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    b = si.search_many(queries, 25).collect()
    monkeypatch.undo()
    assert a and sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_prefix_expansion_and_search(spark, index_dir, oracle, monkeypatch):
    """Prefix expansion: df-desc order, deterministic tie-break, cap
    honored, the resident dictionary's expansion == the term_stats scan
    (SEARCH_DRIVER_CAP=-1); search_prefix == search over the manual
    expansion."""
    import newssearchengine_spark.plans.search as S

    oidx, _ = oracle
    si = SegmentIndex(spark, index_dir)
    full = si.expand_prefix("get", max_expansions=1000)
    assert full and all(t.startswith("get") for t in full)
    capped = si.expand_prefix("get", max_expansions=2)
    assert capped == full[:2]
    cases = [("get", 1000), ("get", 2), ("c", 50), ("", 100000), ("n", 0),
             ("zzznope", 5)]
    resident = [si.expand_prefix(p, max_expansions=m) for p, m in cases]
    # the empty prefix expands to the whole dictionary
    assert len(resident[3]) == si._resident().dictionary.num_rows > 50
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    assert [si.expand_prefix(p, max_expansions=m)
            for p, m in cases] == resident
    monkeypatch.undo()
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
    """The phrase top-k has two placements (pyarrow driver read and numpy
    scoring under SEARCH_DRIVER_CAP; above it the distributed matcher and
    Catalyst scoring) — the same phrase BM25 and 6 dp HALF_UP rounding,
    so results must be bit-identical. Force the distributed plan by
    zeroing the cap and compare."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir)
    cases = [["node", "cursor"], ["shard", "group"]]

    def run():
        return ([si.search_phrase(p, 20).collect() for p in cases]
                + [si.search_phrase_prefix(["node", "c"], 20,
                                           max_expansions=5).collect()])

    driver = run()
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    dist = run()
    monkeypatch.undo()
    for a, b in zip(driver, dist):
        assert a and [tuple(r) for r in a] == [tuple(r) for r in b]


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
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    dist = si.search_bool(should=should, k=N_DOCS + 1,
                          minimum_should_match=2).collect()
    monkeypatch.undo()
    assert sorted(map(tuple, dist)) == sorted(map(tuple, res[2]))
    # msm composes with must + must_not through both regimes
    a = si.search_bool(must=["node"], should=should, must_not=["proto"],
                       k=50, minimum_should_match=2).collect()
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    b = si.search_bool(must=["node"], should=should, must_not=["proto"],
                       k=50, minimum_should_match=2).collect()
    monkeypatch.undo()
    assert a and sorted(map(tuple, a)) == sorted(map(tuple, b))
    # msm exceeding the distinct should terms matches NOTHING in ES —
    # an adapter-submitted body must get an empty hit set, not a crash
    assert si.search_bool(should=["node"], k=5,
                          minimum_should_match=2).collect() == []


def test_dismax_field_boosts(spark, corpus, tmp_path, monkeypatch):
    """ES field boosts (title^3): per-field scores scale by the boost
    before the combine; the driver placement == the distributed one
    (SEARCH_DRIVER_CAP=-1); a dominant boost reorders toward that
    field's own ranking."""
    from pyspark.sql import functions as F

    import newssearchengine_spark.plans.search as S
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
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    full = search_dismax(idxs, terms, 20, tie_breaker=0.2,
                         boosts=boosts).collect()
    monkeypatch.undo()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in full]
    plain = search_dismax(idxs, terms, 20, tie_breaker=0.2).collect()
    assert [r["doc_id"] for r in got] != [r["doc_id"] for r in plain] or \
        [r["score"] for r in got] != [r["score"] for r in plain]
    with pytest.raises(ValueError, match=">= 0"):
        search_dismax(idxs, terms, 5, boosts={"title": -1.0})
    two.unpersist()


def test_bool_driver_equals_distributed(spark, index_dir, monkeypatch):
    """Flat bool's driver placement (the per-part intersection + candidate
    scoring closure over a pyarrow read) equals its distributed
    applyInPandas plan exactly."""
    import newssearchengine_spark.plans.search as S

    si = SegmentIndex(spark, index_dir)
    cases = [
        (["node", "cursor"], ["shard"], ["stream"]),
        ([["node", "shard"], "cursor"], ["group"], []),
        (["group"], [], ["proto"]),
    ]
    driver = [si.search_bool(must=m, should=s, must_not=n, k=25).collect()
              for m, s, n in cases]
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    dist = [si.search_bool(must=m, should=s, must_not=n, k=25).collect()
            for m, s, n in cases]
    monkeypatch.undo()
    for a, b, c in zip(driver, dist, cases):
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
    the lazily-persisted positional sidecar + the resident reader) and
    the handle remains usable uncached, loading no reader again. Built
    over its OWN index dir: the CacheManager dedupes identical plans, so
    a shared fixture index would alias other handles' cache entries and
    hide this handle's."""
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
    assert si._reader is not None
    si.search_phrase(["node", "cursor"], 5).count()  # pins the pos cache
    assert cached_ids() - before  # this handle pinned something new
    top = si.search(["node", "cursor"], 5).collect()
    si.close()
    assert si._reader is None
    assert not (cached_ids() - before)  # everything it pinned is gone
    again = si.search(["node", "cursor"], 5).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in top]
    assert si._reader is None


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

    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
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
    mp.setattr(S, "SEARCH_DRIVER_CAP", -1)
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
# a `term: lang` filter), a bool with a phrase leaf, a must_not-only node,
# search_many with duplicate bodies at k 100/300, and the metadata filter
# kinds inside trees: terms, range (gte + a float lt), exists, the
# long-form term, a meta filter in a nested must_not and a filter-only tree
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
    lambda si: si.search_bool_tree(
        {"should": [["node", "shard"]],
         "filter": [{"terms": {"lang": ["py", "go"]}}]}, 20),
    lambda si: si.search_bool_tree(
        {"must": [["cursor"]],
         "filter": [{"range": {"content_len": {"gte": 300,
                                               "lt": 2500.5}}}]}, 20),
    lambda si: si.search_bool_tree(
        {"should": [["stream"]], "filter": [{"exists": {"field": "lang"}}]},
        20),
    lambda si: si.search_bool_tree(
        {"must": [["group"]], "filter": [{"term": {"lang": {"value": "py"}}}]},
        20),
    lambda si: si.search_bool_tree(
        {"must": [["node", "shard"]],
         "must_not": [{"filter": [{"term": {"lang": "py"}}]}]}, 20),
    lambda si: si.search_bool_tree(
        {"filter": [{"term": {"lang": "go"}}, ["stream"]]}, 20),
]
# flat bool (must + should + must_not, must + msm + must_not, filter term
# clauses, a zero-filled filter, a meta filter with and without msm, a
# zero-filled meta filter, must_not only, metadata filters only),
# query_string AND and search_mixed
FLAT_CALLS = [
    lambda si: si.search_bool(must=["node", "cursor"], should=["shard"],
                              must_not=["stream"], k=20),
    lambda si: si.search_bool(
        must=["node"], should=["node", "cursor", "shard", "stream"],
        must_not=["proto"], k=20, minimum_should_match=2),
    lambda si: si.search_bool(must=["node"], should=["cursor"],
                              filter=[["shard", "stream"]], k=20),
    lambda si: si.search_bool(should=["node"], filter=[["proto"]], k=20),
    lambda si: si.search_bool(must=["node"], should=["cursor"],
                              filter=[{"term": {"lang": "py"}}], k=20),
    lambda si: si.search_bool(should=["node", "cursor", "shard"],
                              minimum_should_match=2,
                              filter=[{"term": {"lang": "py"}}], k=20),
    lambda si: si.search_bool(should=["zzz_absent"],
                              filter=[{"term": {"lang": "py"}}], k=20),
    lambda si: si.search_bool(must_not=["proto", "stream"], k=20),
    lambda si: si.search_bool(
        filter=[{"term": {"lang": "go"}},
                {"range": {"content_len": {"gte": 200}}}], k=20),
    lambda si: es_search(si, {"query": {"query_string": {
        "query": "node AND cursor"}}}, size=20),
    lambda si: si.search_mixed(
        [[["node"], ["cursor"]], [["shard"], ["stream"]]], k=20),
]


# two-field bodies (field `title` = each doc's first 6 words, `content`)
# through es_search: query_string OR / AND / mixed, multi_match
# best_fields / most_fields / cross_fields / phrase / phrase_prefix and
# dis_max, with field boosts and tie_breakers
MULTI_BODIES = [
    {"query_string": {"fields": ["title", "content"],
                      "query": "node OR cursor OR shard"}},
    {"query_string": {"fields": ["title", "content"],
                      "query": "node AND cursor"}},
    {"query_string": {"fields": ["title^2", "content"],
                      "query": "node AND cursor OR shard"}},
    {"multi_match": {"fields": ["title", "content^0.5"],
                     "query": "node cursor shard", "tie_breaker": 0.3}},
    {"multi_match": {"fields": ["title", "content"], "query": "node cursor",
                     "type": "most_fields"}},
    {"multi_match": {"fields": ["title^2", "content"],
                     "query": "node cursor shard", "type": "cross_fields",
                     "tie_breaker": 0.3}},
    {"multi_match": {"fields": ["title", "content"], "query": "node cursor",
                     "type": "phrase"}},
    {"multi_match": {"fields": ["title", "content"], "query": "node curs",
                     "type": "phrase_prefix"}},
    {"dis_max": {"queries": [
        {"match": {"title": {"query": "node", "boost": 2.0}}},
        {"match": {"content": "cursor shard"}}], "tie_breaker": 0.2}},
]
# boosted single-field bodies, one per score-scaling site of es_search:
# multi_match phrase / phrase_prefix / operator:'and' and query_string
# mixed / AND / OR on `field^boost` (unrounded), match boost on a plain,
# operator:'and' and msm match and a body-level bool boost (rounded)
BOOSTED_BODIES = [
    {"multi_match": {"fields": ["content^2"], "query": "node cursor",
                     "type": "phrase"}},
    {"multi_match": {"fields": ["content^0.5"], "query": "node curs",
                     "type": "phrase_prefix"}},
    {"multi_match": {"fields": ["content^3"], "query": "node cursor",
                     "operator": "and"}},
    {"query_string": {"fields": ["content^2"],
                      "query": "node AND cursor OR shard"}},
    {"query_string": {"fields": ["content^1.5"], "query": "node AND cursor"}},
    {"query_string": {"fields": ["content^2"], "query": "node OR cursor"}},
    {"match": {"content": {"query": "node cursor", "boost": 2.0}}},
    {"match": {"content": {"query": "node cursor", "operator": "and",
                           "boost": 0.7}}},
    {"match": {"content": {"query": "node cursor shard",
                           "minimum_should_match": 2, "boost": 3.0}}},
    {"bool": {"must": [{"match": {"content": "node"}}], "boost": 2.0}},
]


@pytest.fixture(scope="module")
def title_dir(corpus, tmp_path_factory):
    """A second field's index over the same docs: the first 6 words."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("title"))
    build_index(corpus.select("doc_id", F.array_join(F.slice(F.split(
        F.col("content"), " "), 1, 6), " ").alias("title")), d, CFG,
        text_col="title", resume=False)
    return d


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
        spark, index_dir, tombstoned_dir, title_dir, monkeypatch):
    """Plain taat search, the phrase paths, the nested-bool tree,
    search_many, flat bool, query_string AND and search_mixed each have
    a driver regime (pyarrow read + the SAME per-part closure on the
    driver under SEARCH_DRIVER_CAP on a warm index) and distributed
    plans above it, so results must be identical. Force the distributed regimes by zeroing the cap and
    compare, including the search_after cursor cut, the with_meta join,
    score_all's complete relation, phrase-prefix (exact and sloppy),
    the two-field bodies (the tombstoned index as one field and a clean
    title index as the other) and the boosted single-field bodies,
    on a clean index and on a tombstoned one. On the tombstoned index
    _live's numpy re-rank must also equal its Spark-window form (forced
    by zeroing DELETED_ISIN_CAP)."""
    import newssearchengine_spark.plans.search as S

    title = SegmentIndex(spark, title_dir)

    def run(si, cur=None):
        rows = [si.search(q, 20, mode="taat").collect()
                for q in REGIME_QUERIES]
        cur = cur or (rows[0][4]["score"], rows[0][4]["doc_id"])
        rows.append(si.search(REGIME_QUERIES[0], 10, mode="taat",
                              after=cur).collect())
        rows.append(si.search(REGIME_QUERIES[0], 5, mode="taat",
                              with_meta=True).collect())
        rows.append(sorted(si.score_all(REGIME_QUERIES[1]).collect()))
        rows += [si.search_phrase_prefix(["node", "c"], 20, slop=s)
                 .collect() for s in (0, 1)]
        # ranks are in the rows, so sorting (search_many's window regime
        # returns no fixed order) still pins the ranking
        rows += [sorted(call(si).collect())
                 for call in REGIME_CALLS + FLAT_CALLS]
        rows += [es_search({"title": title, "content": si}, {"query": b},
                           size=20).collect() for b in MULTI_BODIES]
        rows += [es_search(si, {"query": b}, size=20).collect()
                 for b in BOOSTED_BODIES + [{"match": {"content": {
                     "query": "nod", "fuzziness": 1, "boost": 2.0}}}]]
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
    title.close()


def test_part_closures_identical_in_both_placements(spark, index_dir,
                                                   tombstoned_dir):
    """Every per-doc_part closure decodes its part in one pass (_Part)
    and gives, on the driver (_per_part_local over Arrow slices of the
    resident rows), exactly (==) the rows it gives in applyInPandas over
    the pruned distributed scan, on a multi-part index clean and
    tombstoned: taat (top-k, only_docs, search_after), wand, the
    batched scorer (dense, sparse and wand), flat bool (with msm,
    must_not, zero fill and an admitted-id filter), the AND-group
    scorer, the term emitter (plain and fanned to bool-tree clauses),
    _term_docs, explain and the phrase matchers (exact, prefix, pure
    prefix, sloppy and sloppy prefix)."""
    import numpy as np

    import newssearchengine_spark.plans.search as S
    from newssearchengine_spark.functions.codec import lucene_idf

    terms = ["cursor", "group", "node", "shard", "stream"]
    topk = S.TOPK_SCHEMA
    many = "query_id string, doc_id bigint, score double"
    cand = S.PHRASE_CAND_SCHEMA
    score_cols = list(S._SCORE_COLS)
    cols = ["doc_part", "term", "docs", "tfs", "dls"]
    pos_cols = cols + ["positions"]
    for d in (index_dir, tombstoned_dir):
        si = SegmentIndex(spark, d).warm(positions=True)
        st = si.stats
        prm = dict(k1=float(st["k1"]), b=float(st["b"]),
                   avgdl=float(st["avgdl"]))
        idf = {t: float(lucene_idf(float(st["n_docs"]), float(df)))
               for t, df in si.term_dfs(terms).items()}
        assert all(idf.values())
        alts = sorted(set(si.expand_prefix("c")) - {"node", "shard"})
        assert len(alts) > 1
        some = np.array(sorted(
            r["doc_id"] for r in si.search(terms, 60).collect()))
        q = {"a": ["cursor", "node"], "b": ["group", "shard", "stream"],
             "c": ["node"]}
        cases = [
            (S._make_scorer(idf, k=10, mode="taat", **prm), score_cols, topk),
            (S._make_scorer(idf, k=None, mode="taat", only_docs=some[::2],
                            **prm), score_cols, topk),
            (S._make_scorer(idf, k=15, mode="taat", after=(3.0, 500),
                            **prm), score_cols, topk),
            (S._make_scorer(idf, k=10, mode="wand", **prm), score_cols, topk),
            (S._make_multi_scorer(q, idf, k=12, mode="taat",
                                  doc_range=int(st["doc_range"]), **prm),
             score_cols, many),
            (S._make_multi_scorer(q, idf, k=12, mode="taat", **prm),
             score_cols, many),
            (S._make_multi_scorer(q, idf, k=12, mode="wand", **prm),
             score_cols, many),
            (S._make_bool_taat([["node", "cursor"]], ["stream"], ["shard"], 0,
                               ["cursor", "node", "shard"], idf, k=10, **prm),
             cols, topk),
            (S._make_bool_taat([], ["stream"], ["cursor", "node", "shard"], 2,
                               ["cursor", "node", "shard"], idf, k=None,
                               **prm), cols, topk),
            (S._make_bool_taat([["group"]], [], ["node"], 0, ["node"], idf,
                               k=10, zero_fill=True, **prm), cols, topk),
            (S._make_groups_taat([[["node"], ["cursor"]],
                                  [["shard", "group"], ["stream"]]], idf,
                                 k=10, **prm), cols, topk),
            (si._term_emitter(terms)[1], cols,
             "term string, doc_id bigint, score double"),
            (si._term_emitter(terms, fan={"cursor": [1], "group": [3],
                                          "node": [0, 2], "shard": [2, 3],
                                          "stream": [4]})[1], cols,
             "doc_id bigint, cid bigint, score double"),
            (S._term_docs_emit, cols, "term string, doc_id bigint"),
            (S._make_explainer(idf, some, **prm), cols,
             "doc_id bigint, term string, tf bigint, dl bigint, "
             "idf double, partial double"),
            (S._make_phrase_matcher(["node", "cursor"]), pos_cols, cand),
            (S._make_phrase_matcher(["node", alts[0]], last_alts=alts),
             pos_cols, cand),
            (S._make_phrase_matcher([alts[0]], last_alts=alts), pos_cols,
             cand),
            (S._make_sloppy_phrase_matcher(["shard", "group"], 2), pos_cols,
             cand),
            (S._make_sloppy_phrase_matcher(["node", alts[0]], 3,
                                           last_alts=alts), pos_cols, cand),
        ]
        for i, (fn, c, schema) in enumerate(cases):
            read = sorted(set(terms) | set(alts)) if c == pos_cols else terms
            drv = si._per_part(fn, read, c, schema, local=True)
            dist = si._per_part(fn, read, c, schema, local=False,
                                positions="positions" in c)
            got = sorted(zip(*drv.values()))
            assert got and got == sorted(tuple(r) for r in dist.collect()), i
        # the admitted-id form (cogroup above the cap)
        lang = si._doc_ids(si._parse_filters([{"term": {"lang": "py"}}])[1])
        fn = S._make_bool_taat([], [], ["node", "shard"], 0,
                               ["node", "shard"], idf, k=None,
                               zero_fill=True, **prm)
        drv = si._per_part_local(fn, ["node", "shard"], cols, lang)
        assert drv is not None and set(drv["doc_id"]) <= set(lang)
        want = sorted(zip(*drv.values()))
        assert want and want == sorted(zip(*S._concat(
            [fn(g, lang[lang // int(st["doc_range"]) == p])
             for p, g in si._scan(["node", "shard"], cols).toPandas()
             .groupby("doc_part")]).values()))
        si.close()


def test_search_driver_regime_runs_no_spark_job(
        spark, index_dir, tombstoned_dir, title_dir, py4j_commands):
    """A driver-regime search, phrase, nested bool (metadata filters
    included), search_many, flat bool (with or without a meta filter),
    query_string AND or search_mixed, a two-field body (MULTI_BODIES:
    every field's relation driver-placed, one numpy combine) or a
    boosted single-field body on a warm index reads its postings
    (and doc-store columns) with pyarrow and returns a LocalFrame:
    neither the call nor collect() launches a Spark job or makes a JVM
    call, with or without tombstones. Empty answers (an absent phrase
    term, an unsatisfiable msm, a batch of absent terms) are empty
    LocalFrames, job-free and JVM-free too."""
    import time

    empty_calls = [
        lambda si: si.search_phrase(["node", "zzz_absent"], 10),
        lambda si: si.search_bool(should=["node", "cursor"], k=10,
                                  minimum_should_match=3),
        lambda si: si.search_bool_tree(
            {"should": [["node"]], "minimum_should_match": 2}, 10),
        lambda si: si.search_many({"a": ["zzz_absent"]}, 10),
    ]

    def rows(call, si):
        n = py4j_commands()
        out = call(si).collect()
        assert py4j_commands() == n
        return out

    sc = spark.sparkContext
    title = SegmentIndex(spark, title_dir).warm(positions=True)
    for i, d in enumerate((index_dir, tombstoned_dir)):
        si = SegmentIndex(spark, d).warm()
        assert si.search(REGIME_QUERIES[0], 10).collect()
        multi = {"title": title, "content": si}
        group = f"driver-regime-{i}"
        sc.setJobGroup(group, group)
        try:
            for q in REGIME_QUERIES:
                assert rows(lambda si: si.search(q, 10), si)
            for call in REGIME_CALLS + FLAT_CALLS:
                assert rows(call, si)
            for b in MULTI_BODIES:
                assert rows(lambda si: es_search(multi, {"query": b}, 20),
                            si), b
            for b in BOOSTED_BODIES:
                assert rows(lambda si: es_search(si, {"query": b}, 20),
                            si), b
            for call in empty_calls:
                assert not rows(call, si)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(1.0)  # let the listener bus deliver any job start
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        si.close()
    title.close()


def test_meta_filter_admitted_ids_match_pandas(spark, index_dir,
                                               monkeypatch):
    """Each metadata filter kind admits, in both placements, exactly
    the doc-store rows a pandas evaluation of the doc store admits: the
    driver reads them with _meta_filter_pred's pyarrow expression, the
    distributed plan filters the doc-store scan with its Catalyst
    predicate. A filter-only search_bool returns every admitted doc at
    score 0, so its rows are the admitted set. A string value against an
    integer column is parsed as a number in both, as ES parses it: a
    fractional range bound compares as that number, an integral term
    value ("300.0" too) matches the integer."""
    import pandas as pd

    import newssearchengine_spark.plans.search as S

    store = pd.read_parquet(os.path.join(index_dir, "doc_store"))
    n = len(store)
    cl = store["content_len"]
    cases = [
        ({"term": {"lang": "py"}}, store["lang"] == "py"),
        ({"term": {"lang": {"value": "go"}}}, store["lang"] == "go"),
        ({"terms": {"lang": ["py", "rs"]}}, store["lang"].isin(["py", "rs"])),
        ({"range": {"content_len": {"gte": 300, "lt": 1200.5}}},
         (cl >= 300) & (cl < 1200.5)),
        ({"range": {"content_len": {"gt": 500.5, "lte": 2000}}},
         (cl > 500.5) & (cl <= 2000)),
        ({"exists": {"field": "commit"}}, store["commit"].notna()),
        # a string value against an integer column is cast to it
        ({"range": {"content_len": {"gte": "300"}}}, cl >= 300),
        ({"term": {"content_len": str(cl.iloc[0])}}, cl == cl.iloc[0]),
        ({"range": {"content_len": {"gte": "300.5"}}}, cl >= 300.5),
        ({"range": {"content_len": {"gt": "500", "lte": "2000.5"}}},
         (cl > 500) & (cl <= 2000.5)),
        ({"term": {"content_len": f"{cl.iloc[0]}.0"}}, cl == cl.iloc[0]),
        ({"terms": {"content_len": [str(cl.iloc[0]), int(cl.iloc[1])]}},
         cl.isin([cl.iloc[0], cl.iloc[1]])),
    ]
    si = SegmentIndex(spark, index_dir).warm()
    for clause, mask in cases:
        want = sorted(int(d) for d in store["doc_id"][mask])
        assert 0 < len(want) < n or "exists" in clause, clause
        for cap in (S.SEARCH_DRIVER_CAP, -1):
            monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", cap)
            rows = si.search_bool(filter=[clause], k=n + 1).collect()
            assert sorted(r["doc_id"] for r in rows) == want, (clause, cap)
            assert {r["score"] for r in rows} == {0.0}
        monkeypatch.undo()
    si.close()


def test_terms_filter_needs_an_array(spark, index_dir):
    """ES rejects a non-array `terms` value; iterating it would filter a
    string on its characters (or a lookup dict on its keys) and silently
    match nothing. _meta_filter_pred raises before any read, for every
    caller."""
    si = SegmentIndex(spark, index_dir)
    for spec in ("py", {"index": "users", "id": "2", "path": "langs"}):
        with pytest.raises(ValueError, match="array"):
            si.search_bool(filter=[{"terms": {"lang": spec}}], k=10)
        with pytest.raises(ValueError, match="array"):
            es_search(si, {"query": {"bool": {
                "must": [{"bool": {"should": [
                    {"match": {"content": "node"}}]}}],
                "filter": [{"terms": {"lang": spec}}]}}}, size=10)
        with pytest.raises(ValueError, match="array"):
            es_search(si, {"query": {"terms": {"lang": spec}}}, size=10)
    si.close()


def test_numeric_string_on_integer_column_errors(spark, index_dir,
                                                 monkeypatch,
                                                 py4j_commands):
    """ES parses a string value against a numeric field as a number: a
    term/terms value with a decimal part on an integer column is a 400
    ("has a decimal part"), and so is a value that is not a number in
    any kind. In both placements _meta_filter_pred raises ValueError,
    not a pyarrow or Spark cast error — on the driver before any JVM
    call."""
    import newssearchengine_spark.plans.search as S

    cases = [({"term": {"content_len": "300.5"}}, "decimal part"),
             ({"terms": {"content_len": ["300", "300.5"]}}, "decimal part"),
             ({"term": {"content_len": {"value": "abc"}}}, "not a number"),
             ({"range": {"content_len": {"gte": "abc"}}}, "not a number")]
    si = SegmentIndex(spark, index_dir).warm()
    for cap in (S.SEARCH_DRIVER_CAP, -1):
        monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", cap)
        n = py4j_commands()
        for clause, msg in cases:
            with pytest.raises(ValueError, match=msg):
                si.search_bool(should=["node"], filter=[clause], k=10)
            with pytest.raises(ValueError, match=msg):
                es_search(si, {"query": {"bool": {
                    "must": [{"bool": {"should": [
                        {"match": {"content": "node"}}]}}],
                    "filter": [clause]}}}, size=10)
        assert py4j_commands() == n or cap < 0
    monkeypatch.undo()
    si.close()


@pytest.fixture(scope="module")
def merged_dir(spark, corpus, tmp_path_factory):
    """The fixture corpus built as two indexes split mid-doc_part and
    merged."""
    from newssearchengine_spark.plans.merge import merge_indexes

    root = tmp_path_factory.mktemp("merged")
    a, b, out = (str(root / n) for n in ("a", "b", "m"))
    meta = ("repo", "path", "commit", "lang")
    build_index(corpus.filter("doc_id < 700"), a, CFG, meta_cols=meta)
    build_index(corpus.filter("doc_id >= 700"), b, CFG, meta_cols=meta)
    merge_indexes(spark, a, b, out)
    return out


def _sorted_rows(pdf):
    """A segment frame's rows in (term, doc_part) order, list cells as
    lists."""
    import numpy as np

    pdf = pdf.sort_values(["term", "doc_part"], kind="mergesort")
    return [tuple(v.tolist() if isinstance(v, np.ndarray) else v
                  for v in row) for row in pdf.itertuples(index=False)]


def test_resident_reader_equals_pruned_reads(spark, index_dir,
                                             tombstoned_dir, merged_dir):
    """A resident handle's dictionary, segment rows (scoring columns,
    and positions, as Arrow tables in (doc_part, term) order) and
    doc-store filters give exactly what a non-resident handle's pruned
    pyarrow reads give, on a clean index with several doc_parts, a
    tombstoned one and a merged one."""
    import numpy as np
    import pandas as pd

    from newssearchengine_spark.plans.search import _SCORE_COLS

    metas = [{"term": {"lang": "py"}}, {"term": {"lang": {"value": "go"}}},
             {"terms": {"lang": ["py", "rs"]}},
             {"range": {"content_len": {"gte": 300, "lt": 1200.5}}},
             {"range": {"content_len": {"gt": "500.5"}}},
             {"exists": {"field": "commit"}}]
    for d in (index_dir, tombstoned_dir, merged_dir):
        res = SegmentIndex(spark, d).warm()
        pruned = SegmentIndex(spark, d, cache=False)
        assert res._reader is not None and pruned._resident() is None
        vocab = sorted(pd.read_parquet(os.path.join(d, "term_stats"))["term"])
        terms = vocab[::3] + ["zzz_absent"]
        got = res._term_stats(terms)
        assert got == pruned._term_stats(terms)
        assert got["zzz_absent"] == (0, 0) and got[vocab[0]][0] > 0
        parts = set()
        for cols in (list(_SCORE_COLS), ["doc_part", "term", "docs", "tfs",
                                         "dls", "positions"]):
            a = res._read_buckets("segments", terms, cols)
            b = pruned._read_buckets("segments", terms, cols)
            assert a.column_names == cols
            assert a.schema.types == b.schema.types
            # both in (doc_part, term) order: the order parts are cut in
            for t in (a, b):
                keys = list(zip(t["doc_part"].to_pylist(),
                                t["term"].to_pylist()))
                assert keys == sorted(keys)
            a, b = a.to_pandas(), b.to_pandas()
            assert len(a) and _sorted_rows(a) == _sorted_rows(b)
            parts |= set(a["doc_part"].tolist())
        assert len(parts) > 1
        for clause in metas:
            mc = res._parse_filters([clause])[1]
            ids = res._doc_ids(mc)
            assert ids.size and np.array_equal(ids, pruned._doc_ids(mc))
        assert np.array_equal(res._doc_ids(), pruned._doc_ids())
        res.close()


def test_cold_handle_first_touch_under_threads(spark, index_dir,
                                               monkeypatch):
    """Threads that first touch a cold handle at once share one reader
    load, and each reply equals the serial reply of a warm handle."""
    import sys
    import threading
    import time

    import newssearchengine_spark.plans.search as S

    bodies = [{"query": {"match": {"content": "node cursor"}}},
              {"query": {"match_phrase": {"content": "node cursor"}}},
              {"query": {"bool": {
                  "must": [{"match": {"content": "shard"}}],
                  "filter": [{"term": {"lang": "py"}}]}}},
              {"query": {"prefix": {"content": "get"}}}]
    ref = SegmentIndex(spark, index_dir).warm()
    want = [es_search(ref, b, size=20).collect() for b in bodies]
    ref.close()
    loads = []

    class Slow(S.ResidentReader):
        def __init__(self, index_dir):
            loads.append(index_dir)
            time.sleep(0.2)  # every thread arrives mid-load
            super().__init__(index_dir)

    monkeypatch.setattr(S, "ResidentReader", Slow)
    si = SegmentIndex(spark, index_dir)
    n = 8
    barrier = threading.Barrier(n)
    got: dict = {}

    def client(i):
        barrier.wait()
        got[i] = es_search(si, bodies[i % len(bodies)], size=20).collect()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
    try:
        for t in threads:
            t.start()
    finally:
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert sorted(got) == list(range(n))
    for i in range(n):
        assert got[i] == want[i % len(bodies)], i
    assert loads == [index_dir]
    si.close()


def test_uncached_handle_never_loads_a_reader(spark, index_dir):
    """cache=False keeps the pruned per-request reads: no reader loads,
    whatever the request."""
    si = SegmentIndex(spark, index_dir, cache=False).warm()
    assert si.search(REGIME_QUERIES[0], 10).collect()
    assert es_search(si, {"query": {"prefix": {"content": "get"}}},
                     size=10).collect()
    assert si._reader is None and si._resident() is None


def test_warm_request_opens_no_parquet_file(spark, index_dir, monkeypatch):
    """After warm(), a driver-placed request of any kind answers from
    the resident reader: opening a parquet file or dataset raises."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    si = SegmentIndex(spark, index_dir).warm(positions=True)

    def refuse(*args, **kwargs):
        raise AssertionError("a warm request opened parquet")

    for mod, name in ((pq, "read_table"), (pq, "ParquetFile"),
                      (pq, "ParquetDataset"), (ds, "dataset")):
        monkeypatch.setattr(mod, name, refuse)
    for q in REGIME_QUERIES:
        assert si.search(q, 10).collect()
    for call in REGIME_CALLS + FLAT_CALLS:
        assert call(si).collect()
    monkeypatch.undo()
    si.close()


def test_non_resident_handle_equals_resident(spark, index_dir,
                                             tombstoned_dir, monkeypatch):
    """With SEARCH_DRIVER_CAP below the index's volume (so no reader
    loads) but above every call's read volume, each call still runs on
    the driver — no Spark job — from pruned pyarrow reads, and its rows
    equal the resident handle's, on a clean and a tombstoned index. A
    cap lowered after a reader loaded bypasses that reader."""
    import time

    import newssearchengine_spark.plans.search as S

    def run(si):
        rows = [si.search(q, 20).collect() for q in REGIME_QUERIES]
        rows += [sorted(call(si).collect())
                 for call in REGIME_CALLS + FLAT_CALLS]
        return [[tuple(r) for r in rs] for rs in rows]

    sc = spark.sparkContext
    for i, d in enumerate((index_dir, tombstoned_dir)):
        res = SegmentIndex(spark, d).warm()
        assert res._reader is not None
        want = run(res)
        # a cap lowered after the load bypasses the loaded reader
        monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
        assert res._resident() is None and res._reader is not None
        monkeypatch.undo()
        res.close()
        st = res.stats
        vol = int(st["n_docs"]) + int(st["total_tokens"]) * (
            1 + bool(st.get("with_positions"))
            + bool(st.get("with_term_vectors")))
        monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", vol - 1)
        si = SegmentIndex(spark, d).warm()
        assert si._reader is None
        group = f"non-resident-{i}"
        sc.setJobGroup(group, group)
        try:
            got = run(si)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(1.0)  # let the listener bus deliver any job start
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert got == want
        monkeypatch.undo()
        si.close()


MIXED_BATCH = [
    {"query": {"match": {"content": "node cursor"}}},
    {"query": {"match_phrase": {"content": "node cursor"}}},
    {"query": {"bool": {
        "must": [{"bool": {"should": [{"match": {"content": "shard"}},
                                      {"match": {"content": "group"}}]}}],
        "should": [{"match": {"content": "stream"}}]}}},
    {"query": {"match": {"content": "zzz_absent"}}},
]


def test_msearch_mixed_batch_runs_no_spark_job(spark, index_dir,
                                               tombstoned_dir):
    """An msearch batch mixing a match, a match_phrase, a nested bool
    and an absent-term match runs each part in a driver regime, and the
    parts combine in pandas, in part order: no Spark job, and each
    body's block equals its own es_search."""
    import time

    from newssearchengine_spark.plans.dsl import es_msearch, es_search
    from newssearchengine_spark.plans.search import LocalFrame

    sc = spark.sparkContext
    for i, d in enumerate((index_dir, tombstoned_dir)):
        si = SegmentIndex(spark, d).warm(positions=True)
        want = [(str(q), *r) for q, b in enumerate(MIXED_BATCH)
                for r in es_search(si, b, size=7).collect()]
        assert {q for q, *_ in want} == {"0", "1", "2"}
        group = f"msearch-mixed-{i}"
        sc.setJobGroup(group, group)
        try:
            out = es_msearch(si, MIXED_BATCH, size=7)
            got = out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(1.0)  # let the listener bus deliver any job start
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert isinstance(out, LocalFrame)
        assert sorted(tuple(r) for r in got) == sorted(want)
        # part order: the batched match group ("0"; "3" has no hit),
        # then "1" and "2" in body order
        qids = [r["query_id"] for r in got]
        assert qids == sorted(qids)
        si.close()


@pytest.mark.parametrize("regime", ["driver", "distributed"])
def test_negative_size_and_from_are_rejected(spark, index_dir, regime,
                                             monkeypatch, py4j_commands):
    """A negative `size` or `from` is ES's 400, raised by es_search and
    es_msearch before any plan (no JVM call) in either regime — not a
    truncated page, a numpy error, a Spark limit error or a hit ranked
    at the negative offset."""
    import re

    import newssearchengine_spark.plans.search as S
    from newssearchengine_spark.plans.dsl import es_msearch, es_search

    si = SegmentIndex(spark, index_dir).warm()
    modes = ["taat"]
    if regime == "distributed":
        monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
        modes.append("wand")
    body = {"query": {"match": {"content": "node cursor"}}}
    size_msg = re.escape("[size] parameter cannot be negative, found [-1]")
    from_msg = re.escape("[from] parameter cannot be negative, found [-2]")
    n = py4j_commands()
    for mode in modes:
        with pytest.raises(ValueError, match=size_msg):
            es_search(si, body, size=-1, mode=mode)
        with pytest.raises(ValueError, match=from_msg):
            es_search(si, {**body, "from": -2}, mode=mode)
        with pytest.raises(ValueError, match=size_msg):
            es_msearch(si, [body, body], size=-1, mode=mode)
        with pytest.raises(ValueError, match=from_msg):
            es_msearch(si, [body, {**body, "from": -2}], mode=mode)
    assert py4j_commands() == n


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
