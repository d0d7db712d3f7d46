"""The reference's LITERAL es.search bodies run unchanged through the
DSL adapter and equal the direct engine calls.

Body shapes copied verbatim from the reference:
- query_string over two fields: wapo/experiments/ranking.py:128-139
- multi_match operator:'or':
  netzpolitik/experiments/keyword_match_recall.py:30-43
- term on a keyword field: netzpolitik/index_vs.py:47-58
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newssearchengine_spark.config import IndexConfig
from newssearchengine_spark.datagen import source_files
from newssearchengine_spark.plans.dsl import es_search
from newssearchengine_spark.plans.index_build import build_index
from newssearchengine_spark.plans.search import SegmentIndex, search_dismax
from newssearchengine_spark.sources.corpus import assign_doc_ids

CFG = IndexConfig(n_buckets=8, doc_range=200, block_size=16)


@pytest.fixture(scope="module")
def two_field(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dsl")
    docs = assign_doc_ids(source_files(spark, 400, seed=21, partitions=4),
                          num_partitions=4)
    two = docs.select(
        "doc_id", "repo", "path",
        F.array_join(F.slice(F.split(F.col("content"), " "), 1, 6), " ")
        .alias("title"),
        F.col("content").alias("text"),
    ).persist()
    idxs = {}
    for fld in ("title", "text"):
        d = str(root / fld)
        build_index(two, d, CFG, text_col=fld,
                    meta_cols=("repo", "path"), resume=False)
        idxs[fld] = SegmentIndex(spark, d)
    return two, idxs


def test_reference_query_string_body(two_field):
    """The exact retrieval body from ranking.py:128-139."""
    _, idxs = two_field
    query_keywords = " OR ".join(["nodeCursor", "shardGroup", "streamSort"])
    body = {
        "query": {
            "query_string": {
                "fields": ["title", "text"],
                "query": query_keywords,
            }
        }
    }
    got = es_search(idxs, body, size=20).collect()
    want = search_dismax(idxs, "nodeCursor shardGroup streamSort", 20,
                         tie_breaker=0.0).collect()
    assert got and [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in want]


def test_reference_multi_match_body(two_field):
    """The exact netzpolitik retrieval body (keyword_match_recall.py:30-43)
    — the analyzer key is governed by the index, not the body."""
    _, idxs = two_field
    body = {
        "query": {
            "multi_match": {
                "fields": ["title", "text"],
                "query": "nodeCursor protoShard",
                "analyzer": "german",
                "operator": "or",
            }
        }
    }
    got = es_search(idxs, body, size=15).collect()
    want = search_dismax(idxs, "nodeCursor protoShard", 15).collect()
    assert got and [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in want]


def test_reference_term_lookup_body(two_field):
    """The exact url->id term-lookup body (index_vs.py:47-58), on the
    path keyword column."""
    two, idxs = two_field
    some_path = two.limit(1).collect()[0]["path"]
    body = {"query": {"term": {"path": {"value": some_path}}}}
    got = es_search(idxs, body).collect()
    assert len(got) == 1 and got[0]["path"] == some_path


def test_dsl_single_index_forms(two_field):
    """match / match_phrase / bool / prefix map to the direct calls."""
    _, idxs = two_field
    si = idxs["text"]
    assert [
        (r["doc_id"], r["score"])
        for r in es_search(si, {"match": {"text": "nodeCursor"}}, 10).collect()
    ] == [(r["doc_id"], r["score"]) for r in si.search("nodeCursor", 10).collect()]
    assert [
        (r["doc_id"], r["score"])
        for r in es_search(si, {"match_phrase": {"text": "node cursor"}},
                           10).collect()
    ] == [(r["doc_id"], r["score"])
          for r in si.search_phrase("node cursor", 10).collect()]
    got = es_search(si, {"query": {"bool": {
        "must": [{"match": {"text": "nodeCursor"}}],
        "must_not": [{"match": {"text": "protoShard"}}],
    }}}, 10).collect()
    # ES semantics: ONE must clause = doc must match the clause (OR of its
    # analyzed tokens), not every token
    want = si.search_bool(must=[["node", "cursor"]],
                          must_not=["proto", "shard"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in want]
    assert es_search(si, {"prefix": {"text": "curso"}}, 5).collect()
    with pytest.raises(ValueError, match="unsupported"):
        es_search(si, {"span_near": {}}, 5)
    # fuzzy object-form options change the expansion set — they must
    # reach search_fuzzy, not be dropped
    got = es_search(si, {"fuzzy": {"text": {
        "value": "cursor", "fuzziness": 2, "prefix_length": 1,
        "max_expansions": 7}}}, 10).collect()
    want = si.search_fuzzy("cursor", 10, max_edits=2, prefix_len=1,
                           max_expansions=7).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # AUTO fuzziness: 1 edit at term length 3-5, 2 at 6+
    got = es_search(si, {"fuzzy": {"text": {
        "value": "node", "fuzziness": "AUTO"}}}, 10).collect()
    want = si.search_fuzzy("node", 10, max_edits=1).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # sloppy phrases route to the slop matcher (tests/test_phrase_slop.py
    # pins the semantics); match_phrase_prefix slop (r5: rejection
    # retired) routes to the sloppy prefix matcher
    got = es_search(si, {"match_phrase": {"text": {
        "query": "node cursor", "slop": 2}}}, 10).collect()
    want = si.search_phrase("node cursor", 10, slop=2).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    got = es_search(si, {"match_phrase_prefix": {"text": {
        "query": "node curso", "slop": 1}}}, 10).collect()
    want = si.search_phrase_prefix("node curso", 10, slop=1).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # match_phrase_prefix object form passes max_expansions through
    got = es_search(si, {"match_phrase_prefix": {"text": {
        "query": "node curso", "max_expansions": 3}}}, 10).collect()
    want = si.search_phrase_prefix("node curso", 10,
                                   max_expansions=3).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_bool_must_clause_is_or_of_tokens(spark, two_field):
    """A multi-token match clause under must admits docs containing ANY
    of its tokens (ES match default) — while TWO single-token clauses
    require both. Checked against the tf relation directly."""
    two, idxs = two_field
    si = idxs["text"]
    one_clause = {d for (d,) in es_search(si, {"query": {"bool": {
        "must": [{"match": {"text": "node cursor"}}],
    }}}, 400).select("doc_id").collect()}
    two_clauses = {d for (d,) in es_search(si, {"query": {"bool": {
        "must": [{"match": {"text": "node"}}, {"match": {"text": "cursor"}}],
    }}}, 400).select("doc_id").collect()}

    from newssearchengine_spark.functions.analysis import doc_term_freqs
    tf = doc_term_freqs(two, text_col="text", id_col="doc_id").filter(
        F.col("term").isin(["node", "cursor"]))
    per_doc = {r["doc_id"]: r["ts"] for r in tf.groupBy("doc_id").agg(
        F.collect_set("term").alias("ts")).collect()}
    want_any = {d for d, ts in per_doc.items() if ts}
    want_all = {d for d, ts in per_doc.items() if len(ts) == 2}
    assert one_clause == want_any
    assert two_clauses == want_all
    assert want_all < want_any  # the distinction is actually exercised


def test_query_string_and_conjunction(two_field):
    """A pure-AND query_string executes as a bool-must conjunction
    (every operand required, summed BM25); mixed AND/OR precedence and
    multi-field AND stay rejected rather than silently mis-evaluated."""
    _, idxs = two_field
    si = idxs["text"]
    body = {"query": {"query_string": {
        "fields": ["text"], "query": "node AND cursor"}}}
    got = es_search(si, body, size=10).collect()
    want = si.search_bool(must=[["node"], ["cursor"]], k=10).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want]
    # a multi-token operand keeps ES match semantics (OR of its tokens)
    body2 = {"query": {"query_string": {
        "fields": ["text"], "query": "nodeCursor AND shard"}}}
    got2 = es_search(si, body2, size=10).collect()
    want2 = si.search_bool(must=[si.analyze_query("nodeCursor"),
                                 ["shard"]], k=10).collect()
    assert got2 and [tuple(r) for r in got2] == [tuple(r) for r in want2]
    # multi-field AND (the last r4 rejection retired): the WHOLE
    # conjunction evaluates per field, per-field scores DisMax-combined
    # (ES best_fields) — verified against per-field python oracles
    two, _ = two_field
    mgot = es_search(idxs, {"query": {"query_string": {
        "fields": ["title", "text"], "query": "node AND cursor",
        "tie_breaker": 0.3}}}, size=500).collect()
    from newssearchengine_spark.oracle import pure
    want = {}
    for fld in ("title", "text"):
        raw = {r["doc_id"]: r[fld]
               for r in two.select("doc_id", fld).collect()}
        oidx = pure.OracleIndex.build(raw, idxs[fld].analyzer)
        clauses = [idxs[fld].analyze_query("node"),
                   idxs[fld].analyze_query("cursor")]
        for d in oidx.dl:
            if all(any(d in oidx.postings.get(t, {}) for t in c)
                   for c in clauses):
                want.setdefault(d, []).append(
                    oidx.score(sorted({t for c in clauses for t in c}),
                               d))
    exp = {d: max(ss) + 0.3 * (sum(ss) - max(ss))
           for d, ss in want.items()}
    assert exp and {r["doc_id"] for r in mgot} == set(exp)
    for r in mgot:
        assert r["score"] == pytest.approx(exp[r["doc_id"]], abs=2e-6)


def test_query_string_mixed_and_or_precedence(two_field):
    """Mixed AND/OR under ES precedence (AND binds tighter): the r4
    ValueError path is retired — 'node OR cursor AND shard' evaluates as
    node OR (cursor AND shard), verified against a pure-python oracle
    over the corpus postings (match set + per-doc group-summed BM25)."""
    import math

    from newssearchengine_spark.oracle import pure

    two, idxs = two_field
    si = idxs["text"]
    body = {"query": {"query_string": {
        "fields": ["text"], "query": "node OR cursor AND shard"}}}
    got = es_search(si, body, size=500).collect()

    raw = {r["doc_id"]: r["text"] for r in
           two.select("doc_id", "text").collect()}
    oidx = pure.OracleIndex.build(raw, si.analyzer)
    groups = [[si.analyze_query("node")],
              [si.analyze_query("cursor"), si.analyze_query("shard")]]
    want = {}
    for d in oidx.dl:
        s = 0.0
        matched = False
        for g in groups:
            if all(any(d in oidx.postings.get(t, {}) for t in c)
                   for c in g):
                matched = True
                s += oidx.score([t for c in g for t in c], d)
        if matched:
            want[d] = s
    got_ids = {r["doc_id"] for r in got}
    assert got_ids == set(want), "match set must be OR of AND-groups"
    for r in got:
        assert r["score"] == pytest.approx(want[r["doc_id"]], abs=1e-6)
    # ranked (score desc, doc_id asc) like every engine result
    keys = [(-r["score"], r["doc_id"]) for r in got]
    assert keys == sorted(keys) and len(got) > 0
    # a doc matching BOTH groups outscores its single-group base: group
    # scores sum (Lucene should-clause sum, no cross-group dedup)
    both = [d for d in want
            if d in oidx.postings.get(groups[0][0][0], {})
            and d in want and want[d] > oidx.score(groups[0][0], d) + 1e-9]
    assert both, "fixture must contain docs matching both groups"
    # the boosted single-field form scales scores (ADVICE r4: the AND
    # branch must honor boosts too)
    bbody = {"query": {"query_string": {
        "fields": ["text^2"], "query": "node OR cursor AND shard"}}}
    bgot = es_search(si, bbody, size=500).collect()
    assert [(r["rank"], r["doc_id"]) for r in bgot] == \
        [(r["rank"], r["doc_id"]) for r in got]
    for a, b_ in zip(bgot, got):
        assert a["score"] == pytest.approx(2.0 * b_["score"], rel=1e-12)
    # multi-field mixed grammar: whole grammar per field, DisMax combine
    from newssearchengine_spark.plans.search import search_dismax_bool

    mbody = {"query": {"query_string": {
        "fields": ["title", "text"],
        "query": "node OR cursor AND shard"}}}
    mg = es_search(idxs, mbody, size=50).collect()
    mw = search_dismax_bool(idxs, [["node"], ["cursor", "shard"]],
                            50).collect()
    assert mg and [tuple(r) for r in mg] == [tuple(r) for r in mw]


def test_query_string_pure_and_boost(two_field):
    """ADVICE r4: a pure-AND query_string on a single boosted field must
    scale scores by the boost, consistent with the OR branch."""
    _, idxs = two_field
    si = idxs["text"]
    base = es_search(si, {"query": {"query_string": {
        "fields": ["text"], "query": "node AND cursor"}}}, size=10).collect()
    boosted = es_search(si, {"query": {"query_string": {
        "fields": ["text^3"], "query": "node AND cursor"}}}, size=10).collect()
    assert base and [(r["rank"], r["doc_id"]) for r in boosted] == \
        [(r["rank"], r["doc_id"]) for r in base]
    for a, b_ in zip(boosted, base):
        assert a["score"] == pytest.approx(3.0 * b_["score"], rel=1e-12)


def test_field_boosts_and_minimum_should_match(two_field):
    """ES surface edges r3 flagged as unsupported: 'title^3' field boosts
    in query_string/multi_match, and bool minimum_should_match — both now
    run through the adapter and equal the direct engine calls."""
    _, idxs = two_field
    body = {"query": {"query_string": {
        "fields": ["title^3", "text^0.5"],
        "query": "nodeCursor shardGroup streamSort"}}}
    got = es_search(idxs, body, size=15).collect()
    want = search_dismax(idxs, "nodeCursor shardGroup streamSort", 15,
                         boosts={"title": 3.0, "text": 0.5}).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want]
    plain = search_dismax(idxs, "nodeCursor shardGroup streamSort",
                          15).collect()
    assert [(r["doc_id"], r["score"]) for r in got] != \
        [(r["doc_id"], r["score"]) for r in plain]

    si = idxs["text"]
    body2 = {"query": {"bool": {
        "should": [{"match": {"text": "node"}},
                   {"match": {"text": "cursor"}},
                   {"match": {"text": "shard"}}],
        "minimum_should_match": 2}}}
    got2 = es_search(si, body2, size=25).collect()
    want2 = si.search_bool(should=["node", "cursor", "shard"], k=25,
                           minimum_should_match=2).collect()
    assert got2 and [tuple(r) for r in got2] == [tuple(r) for r in want2]

    # body-level percentage msm: 3 should clauses -> '67%' = floor(2.01)
    # = 2, '-33%' = 3 - floor(0.99) = 3 - 0 = 3
    body_pct = dict(body2["query"]["bool"],
                    minimum_should_match="67%")
    got_pct = es_search(si, {"query": {"bool": body_pct}},
                        size=25).collect()
    assert [tuple(r) for r in got_pct] == [tuple(r) for r in want2]
    body_neg = dict(body2["query"]["bool"],
                    minimum_should_match="-33%")
    want3 = si.search_bool(should=["node", "cursor", "shard"], k=25,
                           minimum_should_match=3).collect()
    got_neg = es_search(si, {"query": {"bool": body_neg}},
                        size=25).collect()
    assert [tuple(r) for r in got_neg] == [tuple(r) for r in want3]


def test_query_string_lowercase_and_or_are_terms(two_field):
    """ES's query_string parser only treats the UPPERCASE tokens as
    operators; lowercase 'and'/'or' are ordinary terms (the stopword list
    drops them) — they must not raise or change the result set (ADVICE
    r3: any-case rejection crashed natural queries)."""
    _, idxs = two_field
    si = idxs["text"]
    body = {"query": {"query_string": {
        "fields": ["text"], "query": "node and cursor or shard"}}}
    got = es_search(si, body, size=10).collect()
    want = si.search("node cursor shard", 10).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want]


def test_bool_filter_context_body(two_field):
    """ES bool bodies with FILTER CONTEXT run unchanged: match clauses
    become non-scoring term constraints; term/range clauses become
    doc-store metadata predicates; a single clause dict normalizes like
    ES's lenient parser. Equals the direct search_bool call."""
    _, idxs = two_field
    si = idxs["text"]
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"text": "nodeCursor"}}],
                "should": [{"match": {"text": "shard"}}],
                "filter": [
                    {"match": {"text": "stream group"}},
                    {"term": {"repo": "org1/repo1"}},
                ],
            }
        }
    }
    got = es_search({"text": si}, body, size=10).collect()
    want = si.search_bool(
        must=[si.analyze_query("nodeCursor")], should=["shard"],
        filter=[{"match": {"text": "stream group"}},
                {"term": {"repo": "org1/repo1"}}],
        k=10,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # hits actually honor the metadata filter
    repos = {r["doc_id"]: r["repo"]
             for r in si.doc_store().select("doc_id", "repo").collect()}
    assert got and all(repos[r["doc_id"]] == "org1/repo1" for r in got)

    # single clause dict (not a list) — ES accepts both shapes
    body2 = {"query": {"bool": {
        "filter": {"term": {"repo": "org2/repo2"}}}}}
    only = es_search({"text": si}, body2, size=5).collect()
    want2 = sorted(d for d, rp in repos.items() if rp == "org2/repo2")[:5]
    assert [r["doc_id"] for r in only] == want2
    assert all(r["score"] == 0.0 for r in only)


def test_from_size_pagination_and_exists(two_field):
    """ES from/size pagination: page 2 equals ranks [from, from+size) of
    the full result, re-ranked from 0. An `exists` filter clause admits
    docs with a non-null column."""
    _, idxs = two_field
    si = idxs["text"]
    body = {"query": {"query_string": {"fields": ["text"],
                                       "query": "nodeCursor shardGroup"}}}
    full = es_search({"text": si}, body, size=15).collect()
    page = es_search({"text": si}, {**body, "from": 5}, size=5).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in page] == \
        [(r["rank"] - 5, r["doc_id"], r["score"]) for r in full[5:10]]

    exists = si.search_bool(
        must=["node"], k=10,
        filter=[{"exists": {"field": "repo"}}]).collect()
    want = si.search_bool(must=["node"], k=10).collect()
    # every doc_store row has a repo -> exists is a no-op admit-all
    assert [tuple(r) for r in exists] == [tuple(r) for r in want]


def test_es_aggs_terms_and_stats(spark, two_field):
    """es_aggs computes buckets/metrics over EVERY query-matching doc
    (ES agg semantics), independently recomputed here with the pure
    oracle analyzer over the collected corpus."""
    from collections import Counter

    from newssearchengine_spark.oracle import pure
    from newssearchengine_spark.plans.dsl import es_aggs

    two, idxs = two_field
    si = idxs["text"]
    body = {
        "query": {"match": {"text": "node cursor"}},
        "aggs": {
            "by_repo": {"terms": {"field": "repo", "size": 5}},
            "len": {"stats": {"field": "content_len"}},
            "n": {"value_count": {"field": "doc_id"}},
        },
    }
    got = es_aggs(si, body).collect()

    terms = set(si.analyze_query("node cursor"))
    rows = two.select("doc_id", "repo", "text").collect()
    match = [r for r in rows
             if terms & set(pure.analyze(r["text"], si.analyzer))]
    assert match, "fixture must contain matching docs"
    counts = Counter(r["repo"] for r in match)
    want_terms = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got_terms = [(r["key"], r["doc_count"]) for r in got
                 if r["agg"] == "by_repo"]
    assert sorted(got_terms, key=lambda kv: (-kv[1], kv[0])) == want_terms

    lens = [len(r["text"]) for r in match]
    got_stats = {r["key"]: r["value"] for r in got if r["agg"] == "len"}
    assert got_stats["count"] == float(len(lens))
    assert got_stats["min"] == float(min(lens))
    assert got_stats["max"] == float(max(lens))
    assert got_stats["sum"] == pytest.approx(float(sum(lens)))
    assert got_stats["avg"] == pytest.approx(sum(lens) / len(lens))
    got_n = [r for r in got if r["agg"] == "n"]
    assert got_n[0]["value"] == float(len(match))
    assert got_n[0]["key"] == "value_count"


def test_es_aggs_corpus_wide_and_deleted(spark, tmp_path):
    """No query -> corpus-wide aggs; tombstoned docs drop out of every
    bucket (ES skips deleted docs in aggregations)."""
    from newssearchengine_spark.plans.delete import delete_docs
    from newssearchengine_spark.plans.dsl import es_aggs

    docs = assign_doc_ids(source_files(spark, 150, seed=9, partitions=2),
                          num_partitions=2)
    d = str(tmp_path / "idx")
    build_index(docs, d, CFG, meta_cols=("lang",), resume=False)
    si = SegmentIndex(spark, d, cache=False)
    body = {"aggs": {"by_lang": {"terms": {"field": "lang", "size": 100}}}}
    before = {r["key"]: r["doc_count"]
              for r in es_aggs(si, body).collect()}
    assert sum(before.values()) == 150
    victims = [int(r["doc_id"]) for r in
               si.doc_store().limit(7).collect()]
    delete_docs(spark, d, victims)
    after = {r["key"]: r["doc_count"] for r in es_aggs(si, body).collect()}
    assert sum(after.values()) == 143

    with pytest.raises(ValueError):
        # percentiles became a supported kind in round 5; geo_distance
        # stays the unknown-kind rejection probe
        es_aggs(si, {"aggs": {"x": {"geo_distance": {"field": "lang"}}}})
    with pytest.raises(ValueError):
        es_aggs(si, {"query": {"match": {"text": "node"}}})


@pytest.mark.parametrize("mode", ["taat", "wand"])
def test_search_after_cursor(spark, two_field, mode):
    """search_after pages are exactly the corresponding slices of the
    full ranking, in both scorer modes, and the cursor walk visits every
    hit exactly once."""
    two, idxs = two_field
    si = idxs["text"]
    q = "node cursor shard stream"
    full = si.search(q, 400, mode=mode).collect()
    assert len(full) > 25
    cur = (full[9]["score"], full[9]["doc_id"])
    page2 = si.search(q, 10, mode=mode, after=cur).collect()
    assert [(r["doc_id"], r["score"]) for r in page2] == \
        [(r["doc_id"], r["score"]) for r in full[10:20]]
    assert [r["rank"] for r in page2] == list(range(len(page2)))

    # cursor walk: pages of 7 reassemble the full ranking exactly
    walked, cursor = [], None
    while True:
        page = si.search(q, 7, mode=mode, after=cursor).collect()
        if not page:
            break
        walked.extend((r["doc_id"], r["score"]) for r in page)
        cursor = (page[-1]["score"], page[-1]["doc_id"])
    assert walked == [(r["doc_id"], r["score"]) for r in full]


def test_search_after_es_body_and_unsupported(two_field):
    two, idxs = two_field
    si = idxs["text"]
    body = {"query": {"query_string": {"fields": ["text"],
                                       "query": "node OR cursor OR shard"}}}
    full = es_search({"text": si}, body, size=25).collect()
    cur = [full[9]["score"], full[9]["doc_id"]]
    page2 = es_search({"text": si}, {**body, "search_after": cur},
                      size=10).collect()
    assert [(r["doc_id"], r["score"]) for r in page2] == \
        [(r["doc_id"], r["score"]) for r in full[10:20]]
    with pytest.raises(ValueError):
        es_search({"text": si}, {
            "query": {"match_phrase": {"text": "node cursor"}},
            "search_after": cur}, size=5)


def test_search_after_with_deletes(spark, tmp_path):
    """Cursor pagination composes with tombstones: pages slice the LIVE
    ranking."""
    from newssearchengine_spark.plans.delete import delete_docs

    docs = assign_doc_ids(source_files(spark, 200, seed=3, partitions=2),
                          num_partitions=2)
    d = str(tmp_path / "idx")
    build_index(docs, d, CFG, resume=False)
    si = SegmentIndex(spark, d, cache=False)
    q = "node value hash"
    full_raw = si.search(q, 200).collect()
    dead = [r["doc_id"] for r in full_raw[2:6]]
    delete_docs(spark, d, dead)
    live = [(r["doc_id"], r["score"]) for r in full_raw
            if r["doc_id"] not in set(dead)]
    p1 = si.search(q, 8).collect()
    assert [(r["doc_id"], r["score"]) for r in p1] == live[:8]
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = si.search(q, 8, after=cur).collect()
    assert [(r["doc_id"], r["score"]) for r in p2] == live[8:16]


def test_search_after_gate_window_has_no_plateau():
    """Tripwire for the ft_search_after gate: its page window must stay
    free of 6dp rounding plateaus (the oracle orders by rounded score,
    the engine cursor cuts on the raw score). If regenerated testdata
    ever puts a plateau inside [8, 31], this fails loudly here instead
    of flaking in the driver gate."""
    import os

    import duckdb

    from newssearchengine_spark.gate.fulltext import QUERY_TERMS, _bm25_sql

    path = "/root/testdata/sf0.01/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    rows = con.execute(_bm25_sql(QUERY_TERMS, 40)).fetchall()
    scores = [r[2] for r in rows]
    window = scores[8:32]
    assert all(a != b for a, b in zip(window, window[1:])), \
        "rounding plateau inside the ft_search_after page window"


def test_more_like_this_body(spark, tmp_path):
    """MLT == manual composition (keywords_tf_idf -> OR search, liked doc
    excluded), including ES's multi-doc like form."""
    from newssearchengine_spark.plans.dsl import es_search as ess

    cfg = IndexConfig(n_buckets=8, doc_range=128, block_size=16,
                      with_term_vectors=True)
    docs = assign_doc_ids(source_files(spark, 250, seed=5, partitions=2),
                          num_partitions=2)
    d = str(tmp_path / "idx")
    build_index(docs, d, cfg, resume=False)
    si = SegmentIndex(spark, d, cache=False)
    like = 17
    body = {"query": {"more_like_this": {
        "fields": ["content"], "like": [{"_id": like}],
        "min_term_freq": 2, "min_doc_freq": 3, "max_query_terms": 8}}}
    got = ess(si, body, size=12).collect()
    kw = si.keywords_tf_idf([like], min_tf=2, min_df=3, top_n=8).collect()
    terms = sorted({r["term"] for r in kw})
    assert terms, "liked doc must yield keywords"
    want = [r for r in si.search(terms, 13).collect()
            if r["doc_id"] != like][:12]
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in want]
    assert like not in {r["doc_id"] for r in got}
    assert [r["rank"] for r in got] == list(range(len(got)))
    # multi-doc like: union of both docs' keyword sets, both excluded
    body2 = {"query": {"more_like_this": {
        "fields": ["content"], "like": [{"_id": like}, {"_id": 23}],
        "min_term_freq": 2, "min_doc_freq": 3, "max_query_terms": 8}}}
    got2 = ess(si, body2, size=12).collect()
    assert not {like, 23} & {r["doc_id"] for r in got2}

    # free-text like: keywords from analyzing the TEXT against the
    # index's df statistics, then the usual OR retrieval — vs a python
    # tf*idf oracle over the raw corpus
    import math
    from collections import Counter

    from newssearchengine_spark.oracle import pure

    raw = {r["doc_id"]: r["content"]
           for r in docs.select("doc_id", "content").collect()}
    like_text = raw[like] + " " + raw[23]
    body3 = {"query": {"more_like_this": {
        "fields": ["content"], "like": like_text,
        "min_term_freq": 2, "min_doc_freq": 3, "max_query_terms": 8}}}
    got3 = ess(si, body3, size=12).collect()
    tfc = Counter(pure.analyze(like_text, si.analyzer))
    dtoks = {d: set(pure.analyze(t, si.analyzer)) for d, t in raw.items()}
    n = float(len(raw))
    cand = []
    for t, c in tfc.items():
        if c < 2:
            continue
        df = sum(1 for ts in dtoks.values() if t in ts)
        if df < 3:
            continue
        cand.append((t, round(c * math.log(1 + (n - df + 0.5)
                                           / (df + 0.5)), 6)))
    cand.sort(key=lambda kv: (-kv[1], kv[0]))
    kw3 = sorted(t for t, _ in cand[:8])
    assert kw3
    want3 = si.search(kw3, 12).collect()
    assert [(r["doc_id"], r["score"]) for r in got3] == \
        [(r["doc_id"], r["score"]) for r in want3]
    # mixed id+text likes (r5: the rejection retired): ES merges every
    # like source into ONE tf budget before thresholds — python oracle
    # aggregates doc-17 tf + text tf, then the shared tail
    mix_text = raw[41]
    body4 = {"query": {"more_like_this": {
        "fields": ["content"], "like": [{"_id": like}, mix_text],
        "min_term_freq": 2, "min_doc_freq": 3, "max_query_terms": 8}}}
    got4 = ess(si, body4, size=12).collect()
    tfm = (Counter(pure.analyze(raw[like], si.analyzer))
           + Counter(pure.analyze(mix_text, si.analyzer)))
    cand4 = []
    for t, c in tfm.items():
        if c < 2:
            continue
        df = sum(1 for ts in dtoks.values() if t in ts)
        if df < 3:
            continue
        cand4.append((t, round(c * math.log(1 + (n - df + 0.5)
                                            / (df + 0.5)), 6)))
    cand4.sort(key=lambda kv: (-kv[1], kv[0]))
    kw4 = sorted(t for t, _ in cand4[:8])
    assert kw4 and kw4 != kw3, "merged budget must differ from text-only"
    want4 = [r for r in si.search(kw4, 13).collect()
             if r["doc_id"] != like][:12]
    assert [(r["doc_id"], r["score"]) for r in got4] == \
        [(r["doc_id"], r["score"]) for r in want4]
    assert like not in {r["doc_id"] for r in got4}


def test_es_lookup_kinds_and_cardinality(two_field):
    """terms / ids / range whole-query forms + the cardinality agg."""
    from newssearchengine_spark.plans.dsl import es_aggs

    two, idxs = two_field
    si = idxs["text"]
    got = es_search(si, {"ids": {"values": [5, 7]}}).collect()
    assert {r["doc_id"] for r in got} == {5, 7}

    paths = [r["path"] for r in two.orderBy("doc_id").limit(2).collect()]
    got = es_search(si, {"terms": {"path": paths}}).collect()
    assert {r["path"] for r in got} == set(paths)

    got = es_search(si, {"range": {"doc_id": {"gte": 10, "lt": 14}}}
                    ).collect()
    assert {r["doc_id"] for r in got} == {10, 11, 12, 13}
    with pytest.raises(ValueError, match="range op"):
        es_search(si, {"range": {"doc_id": {"between": [1, 2]}}})

    out = es_aggs(si, {"aggs": {
        "nrepo": {"cardinality": {"field": "repo"}}}}).collect()
    assert out[0]["value"] == float(
        two.select("repo").distinct().count())


def test_es_aggs_significant_terms(spark, tmp_path):
    """significant_terms agg kind routes to the gated index operator
    (JLH foreground-vs-background), flattened into the agg relation."""
    from newssearchengine_spark.plans.dsl import es_aggs

    cfg = IndexConfig(n_buckets=4, doc_range=64, block_size=16,
                      with_term_vectors=True)
    docs = assign_doc_ids(source_files(spark, 150, seed=13, partitions=2),
                          num_partitions=2)
    d = str(tmp_path / "idx")
    build_index(docs, d, cfg, resume=False)
    si = SegmentIndex(spark, d, cache=False)
    # "stream sort" matches ~half the corpus — a proper foreground
    # subset ("node" is in every doc, where JLH is vacuously empty)
    body = {"query": {"match": {"content": "stream sort"}},
            "aggs": {"sig": {"significant_terms": {"field": "content",
                                                   "size": 5}}}}
    got = sorted(es_aggs(si, body).collect(),
                 key=lambda r: (-r["value"], r["key"]))
    want = si.significant_terms(si.analyze_query("stream sort"),
                                top_n=5).collect()
    assert want and [(r["key"], r["doc_count"], r["value"])
                     for r in got] == \
        [(r["term"], r["fg_df"], r["score"]) for r in want]
    with pytest.raises(ValueError, match="query scope"):
        es_aggs(si, {"aggs": {"sig": {"significant_terms": {
            "field": "content"}}}})
    # significant_text is the same computation here: the postings ARE
    # the analyzed text (ES re-analyzes _source only because its text
    # fields may lack doc values)
    body_st = {"query": {"match": {"content": "stream sort"}},
               "aggs": {"sig": {"significant_text": {"field": "content",
                                                     "size": 5}}}}
    got_st = sorted(es_aggs(si, body_st).collect(),
                    key=lambda r: (-r["value"], r["key"]))
    assert [tuple(r) for r in got_st] == [tuple(r) for r in got]


def test_match_all_and_constant_score(two_field):
    """match_all: every doc at the boost score, doc_id-asc order.
    constant_score: filter-context hits at score = boost."""
    two, idxs = two_field
    si = idxs["text"]
    got = es_search(si, {"query": {"match_all": {}}}, size=10).collect()
    all_ids = sorted(d for (d,) in two.select("doc_id").collect())
    assert [r["doc_id"] for r in got] == all_ids[:10]
    assert all(r["score"] == 1.0 for r in got)
    got2 = es_search(si, {"query": {"match_all": {"boost": 3.0}}},
                     size=5).collect()
    assert len(got2) == 5 and all(r["score"] == 3.0 for r in got2)

    some_repo = two.limit(1).collect()[0]["repo"]
    body = {"query": {"constant_score": {
        "filter": {"term": {"repo": some_repo}}, "boost": 2.0}}}
    got3 = es_search(si, body, size=400).collect()
    want = sorted(d for (d,) in two.filter(F.col("repo") == some_repo)
                  .select("doc_id").collect())
    assert [r["doc_id"] for r in got3] == want
    assert all(r["score"] == 2.0 for r in got3)
    with pytest.raises(ValueError, match="filter"):
        es_search(si, {"query": {"constant_score": {"boost": 2.0}}}, 5)


def test_boosting_demotes_and_regimes_agree(two_field, monkeypatch):
    """ES boosting: negative-matching docs demoted by negative_boost.
    The driver-placed score_all and the forced-distributed plan are
    row-identical; the demotion actually reorders this corpus."""
    from newssearchengine_spark.plans import search as search_mod

    _, idxs = two_field
    si = idxs["text"]
    body = {"query": {"boosting": {
        "positive": {"match": {"text": "node cursor"}},
        "negative": {"match": {"text": "shard"}},
        "negative_boost": 0.3,
    }}}
    got = es_search(si, body, size=15).collect()
    assert got

    # demotion tripwire: a plain positive search ranks differently AND a
    # demoted (negative-matching) doc is present among the hits
    plain = si.search(["cursor", "node"], 15).collect()
    negdocs = {r["doc_id"] for r in si._term_docs(["shard"])
               .select("doc_id").distinct().collect()}
    assert [r["doc_id"] for r in got] != [r["doc_id"] for r in plain]
    assert any(r["doc_id"] in negdocs for r in got)

    # placement parity: force the distributed score_all plan
    monkeypatch.setattr(search_mod, "SEARCH_DRIVER_CAP", -1)
    dist = es_search(si, body, size=15).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in dist]
    monkeypatch.undo()

    # empty negative == rounded plain search
    body2 = {"query": {"boosting": {
        "positive": {"match": {"text": "node cursor"}},
        "negative": {"match": {"text": "zzznotaterm"}},
        "negative_boost": 0.3,
    }}}
    got2 = es_search(si, body2, size=15).collect()
    # expected: plain search, Catalyst-rounded (HALF_UP like the engine
    # tail), re-ranked on the rounded value (buffered top-k pattern)
    buf = (si.search(["cursor", "node"], 30)
           .select("doc_id", F.round("score", 6).alias("score")).collect())
    rounded_plain = sorted(((r["doc_id"], r["score"]) for r in buf),
                           key=lambda t: (-t[1], t[0]))[:15]
    assert [(r["doc_id"], r["score"]) for r in got2] == rounded_plain
    with pytest.raises(ValueError, match="OR-matching"):
        es_search(si, {"query": {"boosting": {
            "positive": {"bool": {}}, "negative": {"match": {"text": "x"}},
        }}}, 5)


def test_multi_match_most_fields_and_tie_breaker(two_field):
    """multi_match type=most_fields sums per-field scores (== DisMax at
    tie_breaker 1.0); an explicit tie_breaker in a best_fields body is
    honored; unknown types are rejected, not silently mis-ranked."""
    _, idxs = two_field
    body = {"query": {"multi_match": {
        "fields": ["title", "text"], "query": "nodeCursor protoShard",
        "type": "most_fields"}}}
    got = es_search(idxs, body, size=12).collect()
    want = search_dismax(idxs, "nodeCursor protoShard", 12,
                         tie_breaker=1.0).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want]

    body2 = {"query": {"multi_match": {
        "fields": ["title", "text"], "query": "nodeCursor protoShard",
        "tie_breaker": 0.25}}}
    got2 = es_search(idxs, body2, size=12).collect()
    want2 = search_dismax(idxs, "nodeCursor protoShard", 12,
                          tie_breaker=0.25).collect()
    assert [tuple(r) for r in got2] == [tuple(r) for r in want2]
    # cross_fields became a supported type in the closing session;
    # bool_prefix stays the unknown-type rejection probe
    with pytest.raises(ValueError, match="multi_match type"):
        es_search(idxs, {"query": {"multi_match": {
            "fields": ["title", "text"], "query": "x",
            "type": "bool_prefix"}}}, 5)


def test_regexp_query_and_expansion(two_field):
    """ES regexp: anchored whole-term match, df-desc capped expansion,
    BM25 over the expansion — checked against a Python re oracle over
    the dictionary, and through the DSL body form."""
    import re

    _, idxs = two_field
    si = idxs["text"]
    pattern = "(node|shard)[a-z]*"
    got_terms = si.expand_regexp(pattern, max_expansions=50)
    vocab = {r["term"]: r["df"] for r in si._tstats.collect()}
    want = sorted((t for t in vocab
                   if re.fullmatch(pattern, t)),
                  key=lambda t: (-vocab[t], t))[:50]
    assert got_terms == want and got_terms
    got = es_search(si, {"regexp": {"text": {"value": pattern}}},
                    10).collect()
    want_hits = si.search(got_terms, 10).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want_hits]
    # a quantified last literal char must not over-prune the dictionary
    opt = si.expand_regexp("nodes?", max_expansions=10)
    assert "node" in opt
    with pytest.raises(Exception):
        si.expand_regexp("a[b", max_expansions=5)  # invalid pattern


def test_es_aggs_histogram_range_percentiles(spark, two_field):
    """histogram buckets = floor lower bounds; range buckets honor open
    bounds and report empty buckets at 0; percentiles are exact
    interpolated values — all over the query match set."""
    from newssearchengine_spark.plans.dsl import es_aggs

    two, idxs = two_field
    si = idxs["text"]
    body = {
        "query": {"match": {"text": "node"}},
        "aggs": {
            "h": {"histogram": {"field": "doc_id", "interval": 100}},
            "r": {"range": {"field": "doc_id", "ranges": [
                {"to": 100}, {"from": 100, "to": 10 ** 6}, {"from": 10 ** 6}]}},
            "p": {"percentiles": {"field": "doc_id",
                                  "percents": [50]}},
        },
    }
    out = es_aggs(si, body).collect()
    match = {r["doc_id"] for r in si._term_docs(["node"])
             .select("doc_id").distinct().collect()}
    assert match
    import numpy as np

    hist = {r["key"]: r["doc_count"] for r in out if r["agg"] == "h"}
    want_hist = {}
    for d in match:
        want_hist[str(d // 100 * 100)] = want_hist.get(
            str(d // 100 * 100), 0) + 1
    assert hist == want_hist
    rng = {r["key"]: r["doc_count"] for r in out if r["agg"] == "r"}
    assert rng["*-100"] == sum(1 for d in match if d < 100)
    assert rng["100-1000000"] == sum(1 for d in match if 100 <= d < 10 ** 6)
    assert rng["1000000-*"] == 0  # empty bucket still reported
    p50 = next(r["value"] for r in out if r["agg"] == "p")
    assert p50 == pytest.approx(
        float(np.percentile(sorted(match), 50)), rel=1e-12)


def test_function_score_and_exists(two_field, monkeypatch):
    """function_score/field_value_factor: final = bm25 * f(field) over
    the FULL match set (a doc can be promoted from below the plain
    top-k); driver and distributed placements are row-identical; sum mode
    and whole-query exists work."""
    from newssearchengine_spark.plans import search as search_mod

    two, idxs = two_field
    si = idxs["text"]
    body = {"query": {"function_score": {
        "query": {"match": {"text": "node cursor"}},
        "field_value_factor": {"field": "content_len", "factor": 0.5,
                               "modifier": "sqrt"},
        "boost_mode": "multiply",
    }}}
    got = es_search(si, body, size=15).collect()
    assert got
    # the factor actually reorders vs plain relevance
    plain = si.search(["cursor", "node"], 15).collect()
    assert [r["doc_id"] for r in got] != [r["doc_id"] for r in plain]

    monkeypatch.setattr(search_mod, "SEARCH_DRIVER_CAP", -1)
    dist = es_search(si, body, size=15).collect()
    monkeypatch.undo()
    assert [tuple(r) for r in got] == [tuple(r) for r in dist]

    body_sum = {"query": {"function_score": {
        "query": {"match": {"text": "node cursor"}},
        "field_value_factor": {"field": "content_len", "factor": 0.01},
        "boost_mode": "sum",
    }}}
    got_sum = es_search(si, body_sum, size=15).collect()
    monkeypatch.setattr(search_mod, "SEARCH_DRIVER_CAP", -1)
    dist_sum = es_search(si, body_sum, size=15).collect()
    monkeypatch.undo()
    assert got_sum and [tuple(r) for r in got_sum] == \
        [tuple(r) for r in dist_sum]

    n = es_search(si, {"exists": {"field": "repo"}}, 400).count()
    assert n == two.count()
    with pytest.raises(ValueError, match="boost_mode"):
        si.search_function_score("node", "content_len", 5, boost_mode="max")


def test_field_value_factor_log1p_is_common_log(two_field):
    """ES field_value_factor `modifier: "log1p"` adds 1 to the field
    value and takes the COMMON logarithm: final = bm25 * log10(1 +
    factor * value), in the single-function form and in a functions
    list. Expected scores come from ES's formula over the pure-python
    BM25 oracle."""
    import math

    from newssearchengine_spark.oracle import pure

    two, idxs = two_field
    si = idxs["text"]
    raw = {r["doc_id"]: r["text"]
           for r in two.select("doc_id", "text").collect()}
    oidx = pure.OracleIndex.build(raw, si.analyzer)
    qterms = sorted(set(pure.analyze("node cursor", si.analyzer)))
    match = [d for d in raw
             if set(qterms) & set(pure.analyze(raw[d], si.analyzer))]
    factor, k = 0.5, 15
    want = sorted(
        ((d, oidx.score(qterms, d) * math.log10(1 + factor * len(raw[d])))
         for d in match), key=lambda t: (-round(t[1], 6), t[0]))[:k]
    fvf = {"field": "content_len", "factor": factor, "modifier": "log1p"}
    query = {"match": {"text": "node cursor"}}
    for fs in ({"query": query, "field_value_factor": fvf},
               {"query": query, "functions": [{"field_value_factor": fvf}]}):
        got = es_search(si, {"query": {"function_score": fs}},
                        size=k).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in want], fs
        for r, (_, fin) in zip(got, want):
            assert r["score"] == pytest.approx(fin, abs=2e-6)


def test_match_operator_and_msm_boost(two_field):
    """The ES match OBJECT form's semantics-changing options: operator
    'and' requires EVERY analyzed token (scored by the same summed
    BM25, matching a pure-python oracle), integer minimum_should_match
    requires that many distinct tokens, boost scales the scores —
    none of them may be silently dropped."""
    from newssearchengine_spark.oracle import pure

    two, idxs = two_field
    si = idxs["text"]
    raw = {r["doc_id"]: r["text"]
           for r in two.select("doc_id", "text").collect()}
    oidx = pure.OracleIndex.build(raw, si.analyzer)
    qterms = sorted(set(pure.analyze("node cursor", si.analyzer)))
    assert len(qterms) == 2
    tokd = {d: set(pure.analyze(t, si.analyzer)) for d, t in raw.items()}
    both = sorted(d for d in raw if set(qterms) <= tokd[d])
    any_ = sorted(d for d in raw if set(qterms) & tokd[d])
    assert 0 < len(both) < len(any_)

    body_and = {"query": {"match": {"text": {
        "query": "node cursor", "operator": "and"}}}}
    got = es_search(si, body_and, size=400).collect()
    assert sorted(r["doc_id"] for r in got) == both
    for r in got:
        assert r["score"] == pytest.approx(
            oidx.score(qterms, r["doc_id"]), abs=2e-6)

    # msm=2 over two tokens == operator and (same match set and scores)
    body_msm = {"query": {"match": {"text": {
        "query": "node cursor", "minimum_should_match": 2}}}}
    got_msm = es_search(si, body_msm, size=400).collect()
    assert [tuple(r) for r in got_msm] == [tuple(r) for r in got]

    # msm=1 == the plain OR match
    body_msm1 = {"query": {"match": {"text": {
        "query": "node cursor", "minimum_should_match": 1}}}}
    assert sorted(r["doc_id"] for r in
                  es_search(si, body_msm1, size=400).collect()) == any_

    # boost scales scores without reordering
    body_boost = {"query": {"match": {"text": {
        "query": "node cursor", "boost": 2.0}}}}
    plain = es_search(si, {"query": {"match": {"text": "node cursor"}}},
                      size=15).collect()
    boosted = es_search(si, body_boost, size=15).collect()
    assert [r["doc_id"] for r in boosted] == [r["doc_id"] for r in plain]
    for b_, p in zip(boosted, plain):
        assert b_["score"] == pytest.approx(2.0 * p["score"], abs=2e-6)

    # boost composes with operator and
    body_ab = {"query": {"match": {"text": {
        "query": "node cursor", "operator": "and", "boost": 3.0}}}}
    got_ab = es_search(si, body_ab, size=400).collect()
    assert sorted(r["doc_id"] for r in got_ab) == both
    for r in got_ab:
        assert r["score"] == pytest.approx(
            3.0 * oidx.score(qterms, r["doc_id"]), abs=2e-6)

    with pytest.raises(ValueError, match="match operator"):
        es_search(si, {"query": {"match": {"text": {
            "query": "node", "operator": "xor"}}}}, size=5)
    # match fuzziness (the r4 rejection retired): a single-token match
    # with fuzziness equals the `fuzzy` query kind exactly; AUTO maps
    # to 1 edit at token length 3-5
    got_fz = es_search(si, {"query": {"match": {"text": {
        "query": "node", "fuzziness": "AUTO"}}}}, size=10).collect()
    want_fz = si.search_fuzzy("node", 10, max_edits=1).collect()
    assert got_fz and [tuple(r) for r in got_fz] == \
        [tuple(r) for r in want_fz]
    # multi-token operator 'and': each token's expansion group required
    got_fa = es_search(si, {"query": {"match": {"text": {
        "query": "node cursor", "operator": "and",
        "fuzziness": 1, "max_expansions": 5}}}}, size=10).collect()
    g1 = sorted(si.expand_fuzzy("node", max_edits=1, max_expansions=5))
    g2 = sorted(si.expand_fuzzy("cursor", max_edits=1, max_expansions=5))
    want_fa = si.search_bool(must=[g1, g2], k=10).collect()
    assert got_fa and [tuple(r) for r in got_fa] == \
        [tuple(r) for r in want_fa]
    # multi-token OR: the expansion union as one disjunction
    got_fo = es_search(si, {"query": {"match": {"text": {
        "query": "node cursor", "fuzziness": 1,
        "max_expansions": 5}}}}, size=10).collect()
    want_fo = si.search(sorted(set(g1) | set(g2)), 10).collect()
    assert got_fo and [tuple(r) for r in got_fo] == \
        [tuple(r) for r in want_fo]
    with pytest.raises(ValueError, match="no-op"):
        es_search(si, {"query": {"match": {"text": {
            "query": "node cursor", "operator": "and",
            "minimum_should_match": 1}}}}, size=5)

    # percentage / negative minimum_should_match (Lucene value forms):
    # 2 tokens -> '75%' = floor(1.5) = 1 (the OR match), '100%' = 2
    # (= operator and), '-1' = total-1 = 1, '-50%' = 2-floor(1) = 1
    for form, want in (("75%", got_msm1 := es_search(si, body_msm1,
                                                     size=400).collect()),
                       ("100%", got), ("-1", got_msm1), (-1, got_msm1),
                       ("-50%", got_msm1)):
        body = {"query": {"match": {"text": {
            "query": "node cursor", "minimum_should_match": form}}}}
        rows = es_search(si, body, size=400).collect()
        assert [tuple(r) for r in rows] == [tuple(r) for r in want], form
    # conditional forms (Lucene calculateMinShouldMatch walk, r5: the
    # rejection retired): 2 tokens vs '3<90%' -> 2 <= 3 means ALL
    # required (== operator and); '1<75%' -> 2 > 1 applies 75% = 1;
    # a chain '1<100% 3<75%' stops at the first un-exceeded threshold
    # with the last adopted spec (100% here)
    for form, want in (("3<90%", got), ("1<75%", got_msm1),
                       ("1<100% 3<75%", got)):
        body = {"query": {"match": {"text": {
            "query": "node cursor", "minimum_should_match": form}}}}
        rows = es_search(si, body, size=400).collect()
        assert [tuple(r) for r in rows] == [tuple(r) for r in want], form
    with pytest.raises(ValueError, match="bad conditional"):
        es_search(si, {"query": {"match": {"text": {
            "query": "node cursor",
            "minimum_should_match": "x<90%"}}}}, size=5)
    with pytest.raises(ValueError, match="bad minimum_should_match"):
        es_search(si, {"query": {"match": {"text": {
            "query": "node cursor",
            "minimum_should_match": "many"}}}}, size=5)


def test_constant_score_bool_filter(two_field):
    """constant_score over a bool FILTER: membership from the filter-only
    tree node (nested bool, must/must_not), every hit at score=boost,
    doc_id-asc rank order."""
    from newssearchengine_spark.oracle import pure

    two, idxs = two_field
    si = idxs["text"]
    raw = {r["doc_id"]: r["text"]
           for r in two.select("doc_id", "text").collect()}
    dt = {d: set(pure.analyze(t, si.analyzer)) for d, t in raw.items()}
    s_toks = set(pure.analyze("shard", si.analyzer))
    n_toks = set(pure.analyze("proto", si.analyzer))
    body = {"query": {"constant_score": {
        "filter": {"bool": {
            "must": [{"match": {"text": "shard"}}],
            "must_not": [{"match": {"text": "proto"}}]}},
        "boost": 3.0}}}
    got = es_search(si, body, size=400).collect()
    want = sorted(d for d in raw
                  if (s_toks & dt[d]) and not (n_toks & dt[d]))
    assert want and [r["doc_id"] for r in got] == want
    assert all(r["score"] == 3.0 for r in got)
    assert [r["rank"] for r in got] == list(range(len(want)))


def test_query_string_default_operator_and(two_field):
    """default_operator:'and' makes bare query_string terms conjunctive
    (== the explicit pure-AND grammar); mixed with explicit AND/OR the
    default applies only between unoperated terms (an implicit AND
    under the adapter's precedence grammar — the former rejection,
    retired); the OR default is unchanged."""
    _, idxs = two_field
    si = idxs["text"]
    got = es_search(si, {"query": {"query_string": {
        "fields": ["text"], "query": "nodeCursor shardGroup",
        "default_operator": "AND"}}}, size=400).collect()
    want = es_search(si, {"query": {"query_string": {
        "fields": ["text"],
        "query": "nodeCursor AND shardGroup"}}}, size=400).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want]
    plain_or = es_search(si, {"query": {"query_string": {
        "fields": ["text"], "query": "nodeCursor shardGroup"}}},
        size=400).collect()
    assert len(got) < len(plain_or)
    # explicit operators mixed with the AND default: bare adjacency is
    # an implicit AND — 'node cursor OR shard' == 'node AND cursor OR
    # shard' (the explicit grammar is itself oracle-pinned above)
    mixed = es_search(si, {"query": {"query_string": {
        "fields": ["text"], "query": "node cursor OR shard",
        "default_operator": "AND"}}}, size=400).collect()
    mixed_want = es_search(si, {"query": {"query_string": {
        "fields": ["text"],
        "query": "node AND cursor OR shard"}}}, size=400).collect()
    assert mixed_want and [tuple(r) for r in mixed] == \
        [tuple(r) for r in mixed_want]
    # and the default genuinely matters: with the OR default the same
    # grammar is the flat disjunction node OR cursor OR shard — a doc
    # holding shard but not the (node AND cursor) group scores its
    # full term union there, but only the shard group here
    mixed_or = es_search(si, {"query": {"query_string": {
        "fields": ["text"], "query": "node cursor OR shard"}}},
        size=400).collect()
    assert {r["doc_id"]: r["score"] for r in mixed} != \
        {r["doc_id"]: round(r["score"], 6) for r in mixed_or}


def test_bool_clause_object_form_options(two_field):
    """match clauses INSIDE bool bodies honor their object-form options
    by compiling to nested tree nodes: operator 'and' = AND of the
    clause's tokens, minimum_should_match = at-least-m of them, both
    scoring the summed BM25 of the clause's present tokens; must_not
    and filter contexts get the same treatment (membership only).
    Checked against a pure-python oracle; per-clause boost rejects."""
    from newssearchengine_spark.oracle import pure

    two, idxs = two_field
    si = idxs["text"]
    raw = {r["doc_id"]: r["text"]
           for r in two.select("doc_id", "text").collect()}
    oidx = pure.OracleIndex.build(raw, si.analyzer)
    dt = {d: set(pure.analyze(t, si.analyzer)) for d, t in raw.items()}
    m_toks = sorted(set(pure.analyze("node cursor", si.analyzer)))
    s_toks = sorted(set(pure.analyze("shard stream merge", si.analyzer)))
    n_toks = sorted(set(pure.analyze("proto group", si.analyzer)))

    body = {"query": {"bool": {
        "must": [{"match": {"text": {
            "query": "node cursor", "operator": "and"}}}],
        "should": [{"match": {"text": {
            "query": "shard stream merge", "minimum_should_match": 2}}}],
        "must_not": [{"match": {"text": {
            "query": "proto group", "operator": "and"}}}],
    }}}
    got = es_search(si, body, size=400).collect()
    want = {}
    for d in raw:
        if not set(m_toks) <= dt[d]:
            continue
        if set(n_toks) <= dt[d]:
            continue
        s = oidx.score(m_toks, d)
        if sum(1 for t in s_toks if t in dt[d]) >= 2:
            s += oidx.score(s_toks, d)
        want[d] = s
    assert want and sorted(r["doc_id"] for r in got) == sorted(want)
    # the msm should-child genuinely fires for some docs
    assert any(sum(1 for t in s_toks if t in dt[d]) >= 2 for d in want)
    for r in got:
        assert r["score"] == pytest.approx(want[r["doc_id"]], abs=2e-6)

    # filter context: operator-and membership, no score contribution
    body_f = {"query": {"bool": {
        "must": [{"match": {"text": "node cursor"}}],
        "filter": [{"match": {"text": {
            "query": "shard stream", "operator": "and"}}}],
    }}}
    got_f = es_search(si, body_f, size=400).collect()
    f_toks = sorted(set(pure.analyze("shard stream", si.analyzer)))
    want_f = {d: oidx.score(m_toks, d) for d in raw
              if (set(m_toks) & dt[d]) and set(f_toks) <= dt[d]}
    assert want_f and sorted(r["doc_id"] for r in got_f) == sorted(want_f)
    for r in got_f:
        assert r["score"] == pytest.approx(want_f[r["doc_id"]], abs=2e-6)

    # body-level minimum_should_match counts should CLAUSES (ES), not
    # distinct terms: a doc matching both tokens of ONE clause but not
    # the other clause must NOT satisfy msm=2
    body_msm = {"query": {"bool": {
        "should": [{"match": {"text": "node cursor"}},
                   {"match": {"text": "shard"}}],
        "minimum_should_match": 2,
    }}}
    got_m = es_search(si, body_msm, size=400).collect()
    c1 = set(m_toks)            # node cursor
    c2 = set(pure.analyze("shard", si.analyzer))
    want_m = {}
    for d in raw:
        matched = (1 if c1 & dt[d] else 0) + (1 if c2 & dt[d] else 0)
        if matched >= 2:
            want_m[d] = oidx.score(sorted(c1 | c2), d)
    # the discriminator: some doc matches BOTH tokens of clause 1 but
    # not clause 2 — distinct-term counting would wrongly admit it
    assert any(c1 <= dt[d] and not (c2 & dt[d]) for d in raw)
    assert want_m and sorted(r["doc_id"] for r in got_m) == sorted(want_m)
    for r in got_m:
        assert r["score"] == pytest.approx(want_m[r["doc_id"]], abs=2e-6)

    # per-clause boost inside bool (the r4 rejection retired): the
    # boosted clause's contribution scales by its boost, other clauses
    # unchanged — matching the python oracle clause-by-clause
    body_cb = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "node cursor",
                                     "boost": 2.5}}}],
        "should": [{"match": {"text": {"query": "shard",
                                       "boost": 0.5}}},
                   {"match": {"text": "stream"}}],
    }}}
    got_cb = es_search(si, body_cb, size=400).collect()
    sh1 = sorted(set(pure.analyze("shard", si.analyzer)))
    sh2 = sorted(set(pure.analyze("stream", si.analyzer)))
    want_cb = {}
    for d in raw:
        if not (c1 & dt[d]):
            continue
        s = 2.5 * oidx.score(m_toks, d)
        if set(sh1) & dt[d]:
            s += 0.5 * oidx.score(sh1, d)
        if set(sh2) & dt[d]:
            s += oidx.score(sh2, d)
        want_cb[d] = s
    assert want_cb and sorted(r["doc_id"] for r in got_cb) \
        == sorted(want_cb)
    for r in got_cb:
        assert r["score"] == pytest.approx(want_cb[r["doc_id"]], abs=5e-6)

    # boost on a NESTED bool clause scales that node's total
    body_nb = {"query": {"bool": {
        "must": [{"match": {"text": "node cursor"}}],
        "should": [{"bool": {
            "must": [{"match": {"text": "shard"}}], "boost": 3.0}}],
    }}}
    got_nb = es_search(si, body_nb, size=400).collect()
    want_nb = {}
    for d in raw:
        if not (c1 & dt[d]):
            continue
        s = oidx.score(m_toks, d)
        if set(sh1) & dt[d]:
            s += 3.0 * oidx.score(sh1, d)
        want_nb[d] = s
    assert want_nb and sorted(r["doc_id"] for r in got_nb) \
        == sorted(want_nb)
    for r in got_nb:
        assert r["score"] == pytest.approx(want_nb[r["doc_id"]], abs=5e-6)

    # a boost in FILTER context is a no-op (filters never score)
    body_fb = {"query": {"bool": {
        "must": [{"match": {"text": "node cursor"}}],
        "filter": [{"match": {"text": {"query": "shard",
                                       "boost": 9.0}}}],
    }}}
    plain_fb = {"query": {"bool": {
        "must": [{"match": {"text": "node cursor"}}],
        "filter": [{"match": {"text": "shard"}}],
    }}}
    assert [tuple(r) for r in es_search(si, body_fb, size=50).collect()] \
        == [tuple(r) for r in es_search(si, plain_fb, size=50).collect()]
    # percentage msm inside a bool clause resolves like the integer form
    # ('50%' of 2 tokens -> 1): same rows as the explicit msm=1 body
    pct_body = {"query": {"bool": {"must": [{"match": {"text": {
        "query": "node cursor", "minimum_should_match": "50%"}}}]}}}
    int_body = {"query": {"bool": {"must": [{"match": {"text": {
        "query": "node cursor", "minimum_should_match": 1}}}]}}}
    assert [tuple(r) for r in es_search(si, pct_body, size=50).collect()] \
        == [tuple(r) for r in es_search(si, int_body, size=50).collect()]

    # body-level bool boost scales scores uniformly (rank preserved)
    bb = {"query": {"bool": {
        "must": [{"match": {"text": "node cursor"}}], "boost": 2.0}}}
    got_bb = es_search(si, bb, size=10).collect()
    plain_bb = es_search(si, {"query": {"bool": {
        "must": [{"match": {"text": "node cursor"}}]}}}, size=10).collect()
    assert [r["doc_id"] for r in got_bb] == [r["doc_id"] for r in plain_bb]
    for b_, p in zip(got_bb, plain_bb):
        assert b_["score"] == pytest.approx(2.0 * p["score"], abs=2e-6)
    # msm on multi_match / query_string rejects instead of extra hits
    with pytest.raises(ValueError, match="minimum_should_match"):
        es_search(si, {"query": {"query_string": {
            "fields": ["text"], "query": "node cursor",
            "minimum_should_match": 2}}}, size=5)


def test_function_score_functions_list(two_field, monkeypatch):
    """function_score FUNCTIONS list (filter+weight): every score_mode
    matches an independent pure-python oracle (pure.OracleIndex BM25 +
    python membership + python combine), the driver-placed score_all
    is row-identical to the forced-distributed plan, docs matched by
    no function keep their query score, and the rejection surface
    (avg / bad keys / bad boost_mode) raises."""
    from newssearchengine_spark.oracle import pure
    from newssearchengine_spark.plans import search as search_mod

    two, idxs = two_field
    si = idxs["text"]
    raw = {r["doc_id"]: r["text"]
           for r in two.select("doc_id", "text").collect()}
    oidx = pure.OracleIndex.build(raw, si.analyzer)
    qterms = sorted(set(pure.analyze("node cursor", si.analyzer)))
    match = sorted(d for d in raw
                   if set(qterms) & set(pure.analyze(raw[d], si.analyzer)))
    assert len(match) > 30
    base = {d: oidx.score(qterms, d) for d in match}
    # function 0: length range (metadata pushdown); threshold at the
    # median so the filter genuinely splits the match set
    med = sorted(len(raw[d]) for d in match)[len(match) // 2]
    # function 1: postings membership on a term some-but-not-all docs
    # contain
    mtok = sorted(set(pure.analyze("shard", si.analyzer)))
    members1 = {d for d in raw
                if set(mtok) & set(pure.analyze(raw[d], si.analyzer))}
    assert 0 < len(members1 & set(match)) < len(match)
    fns = [
        {"filter": {"range": {"content_len": {"gte": med}}}, "weight": 1.5},
        {"filter": {"match": {"text": "shard"}}, "weight": 2.0},
    ]
    k = 15
    mb = 2.5
    for score_mode in ("multiply", "sum", "max", "min", "first"):
        for boost_mode in ("multiply", "sum"):
            body = {"query": {"function_score": {
                "query": {"match": {"text": "node cursor"}},
                "functions": fns,
                "score_mode": score_mode,
                "boost_mode": boost_mode,
                "max_boost": mb,
            }}}
            got = es_search(si, body, size=k).collect()
            # forced-distributed regime: identical rows
            monkeypatch.setattr(search_mod, "SEARCH_DRIVER_CAP", -1)
            dist = es_search(si, body, size=k).collect()
            monkeypatch.undo()
            assert [tuple(r) for r in got] == [tuple(r) for r in dist], \
                (score_mode, boost_mode)
            # pure-python oracle
            want = []
            for d in match:
                firing = []
                if len(raw[d]) >= med:
                    firing.append(1.5)
                if d in members1:
                    firing.append(2.0)
                if not firing:
                    fin = base[d]
                else:
                    if score_mode == "multiply":
                        comb = 1.0
                        for w in firing:
                            comb *= w
                    elif score_mode == "sum":
                        comb = sum(firing)
                    elif score_mode == "max":
                        comb = max(firing)
                    elif score_mode == "min":
                        comb = min(firing)
                    else:
                        comb = firing[0]
                    comb = min(comb, mb)
                    fin = (base[d] * comb if boost_mode == "multiply"
                           else base[d] + comb)
                want.append((d, fin))
            want.sort(key=lambda t: (-round(t[1], 6), t[0]))
            assert [r["doc_id"] for r in got] == [d for d, _ in want[:k]], \
                (score_mode, boost_mode)
            for r, (_, fin) in zip(got, want[:k]):
                assert r["score"] == pytest.approx(fin, abs=2e-6)

    # no firing function -> scores identical to the plain rounded search
    body_nomatch = {"query": {"function_score": {
        "query": {"match": {"text": "node cursor"}},
        "functions": [
            {"filter": {"range": {"content_len": {"gte": 10 ** 9}}},
             "weight": 9.0}],
    }}}
    got = es_search(si, body_nomatch, size=k).collect()
    plain = si.search(qterms, k).select(
        "rank", "doc_id", F.round("score", 6).alias("score")).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in plain]

    # an always-firing function (no filter) through score_mode first
    body_first = {"query": {"function_score": {
        "query": {"match": {"text": "node cursor"}},
        "functions": [{"filter": {"match": {"text": "shard"}},
                       "weight": 3.0},
                      {"weight": 0.5}],
        "score_mode": "first",
    }}}
    got = {r["doc_id"]: r["score"]
           for r in es_search(si, body_first, size=k).collect()}
    for d, s in got.items():
        w = 3.0 if d in members1 else 0.5
        assert s == pytest.approx(base[d] * w, abs=2e-6)

    # bool INNER query: functions applied over the complete tree
    # relation (must OR-clause + must_not exclusion), vs the same
    # pure-python oracle
    body_bool = {"query": {"function_score": {
        "query": {"bool": {
            "must": [{"match": {"text": "node cursor"}}],
            "must_not": [{"match": {"text": "proto"}}],
        }},
        "functions": fns,
        "score_mode": "sum",
        "boost_mode": "multiply",
        "max_boost": mb,
    }}}
    got = es_search(si, body_bool, size=k).collect()
    ptoks = set(pure.analyze("proto", si.analyzer))
    bmatch = [d for d in match
              if not (ptoks & set(pure.analyze(raw[d], si.analyzer)))]
    assert 0 < len(bmatch) < len(match)
    want = []
    for d in bmatch:
        firing = ([1.5] if len(raw[d]) >= med else []) + \
                 ([2.0] if d in members1 else [])
        fin = (base[d] * min(sum(firing), mb) if firing else base[d])
        want.append((d, fin))
    want.sort(key=lambda t: (-round(t[1], 6), t[0]))
    assert [r["doc_id"] for r in got] == [d for d, _ in want[:k]]
    for r, (_, fin) in zip(got, want[:k]):
        assert r["score"] == pytest.approx(fin, abs=2e-6)

    # field_value_factor over the same bool inner query: final =
    # tree_score * factor*content_len, checked against the oracle
    body_fvf_bool = {"query": {"function_score": {
        "query": {"bool": {
            "must": [{"match": {"text": "node cursor"}}],
            "must_not": [{"match": {"text": "proto"}}],
        }},
        "field_value_factor": {"field": "content_len", "factor": 0.01},
        "boost_mode": "multiply",
    }}}
    got = es_search(si, body_fvf_bool, size=k).collect()
    want = sorted(((d, base[d] * 0.01 * len(raw[d])) for d in bmatch),
                  key=lambda t: (-round(t[1], 6), t[0]))
    assert [r["doc_id"] for r in got] == [d for d, _ in want[:k]]
    for r, (_, fin) in zip(got, want[:k]):
        assert r["score"] == pytest.approx(fin, abs=2e-6)

    # score_mode avg (r5: the rejection retired): ES's WEIGHTED mean
    # sum(w*u)/sum(w) — weight-only functions have u=1, so any firing
    # doc averages to exactly 1 (the documented ES quirk)
    body_avg = {"query": {"function_score": {
        "query": {"match": {"text": "node cursor"}},
        "functions": fns, "score_mode": "avg",
        "boost_mode": "multiply", "max_boost": mb,
    }}}
    got = es_search(si, body_avg, size=k).collect()
    want = []
    for d in match:
        firing = len(raw[d]) >= med or d in members1
        want.append((d, base[d] * min(1.0, mb) if firing else base[d]))
    want.sort(key=lambda t: (-round(t[1], 6), t[0]))
    assert [r["doc_id"] for r in got] == [d for d, _ in want[:k]]
    for r, (_, fin) in zip(got, want[:k]):
        assert r["score"] == pytest.approx(fin, abs=2e-6)

    # MIXED weight + field_value_factor functions (r5): s_i = w_i*u_i,
    # every score_mode incl the weighted avg, vs the python oracle
    fns2 = [
        {"filter": {"range": {"content_len": {"gte": med}}},
         "weight": 1.5},
        {"filter": {"match": {"text": "shard"}}, "weight": 2.0,
         "field_value_factor": {"field": "content_len",
                                "factor": 0.01}},
    ]
    mb2 = 50.0
    for score_mode in ("multiply", "sum", "max", "min", "first", "avg"):
        body2 = {"query": {"function_score": {
            "query": {"match": {"text": "node cursor"}},
            "functions": fns2, "score_mode": score_mode,
            "boost_mode": "multiply", "max_boost": mb2,
        }}}
        got = es_search(si, body2, size=k).collect()
        want = []
        for d in match:
            ss, wsum, num = [], 0.0, 0.0
            if len(raw[d]) >= med:
                ss.append(1.5 * 1.0)
                wsum += 1.5
                num += 1.5 * 1.0
            if d in members1:
                u = 0.01 * len(raw[d])
                ss.append(2.0 * u)
                wsum += 2.0
                num += 2.0 * u
            if not ss:
                fin = base[d]
            else:
                if score_mode == "multiply":
                    comb = 1.0
                    for s in ss:
                        comb *= s
                elif score_mode == "sum":
                    comb = sum(ss)
                elif score_mode == "max":
                    comb = max(ss)
                elif score_mode == "min":
                    comb = min(ss)
                elif score_mode == "avg":
                    comb = num / wsum
                else:
                    comb = ss[0]
                fin = base[d] * min(comb, mb2)
            want.append((d, fin))
        want.sort(key=lambda t: (-round(t[1], 6), t[0]))
        assert [r["doc_id"] for r in got] == [d for d, _ in want[:k]], \
            score_mode
        for r, (_, fin) in zip(got, want[:k]):
            assert r["score"] == pytest.approx(fin, abs=2e-6)

    with pytest.raises(ValueError, match="avg"):
        si.search_function_score_fns(
            "node", [{"weight": 0.0}], 5, score_mode="avg")
    with pytest.raises(ValueError, match="unsupported function keys"):
        si.search_function_score_fns(
            "node", [{"random_score": {}, "weight": 2.0}], 5)
    with pytest.raises(ValueError, match="boost_mode"):
        si.search_function_score_fns("node", fns, 5, boost_mode="max")
    with pytest.raises(ValueError, match="non-empty"):
        si.search_function_score_fns("node", [], 5)


def test_dis_max_per_field_texts(two_field, monkeypatch):
    """Explicit dis_max: each sub-query's text scores its own field
    (per-field query dict through search_dismax), boosts ride the match
    spec, and the driver placement matches the distributed placement
    (SEARCH_DRIVER_CAP=-1) row for row."""
    import newssearchengine_spark.plans.search as S

    two, idxs = two_field
    body = {"query": {"dis_max": {
        "queries": [
            {"match": {"title": {"query": "node stream", "boost": 2.0}}},
            {"match": {"text": "cursor shard"}},
        ],
        "tie_breaker": 0.4,
    }}}
    got = es_search(idxs, body, size=15).collect()
    assert got
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    full = search_dismax(
        idxs, {"title": "node stream", "text": "cursor shard"}, 15,
        tie_breaker=0.4, boosts={"title": 2.0}).collect()
    monkeypatch.undo()
    assert [tuple(r) for r in got] == [tuple(r) for r in full]

    # per-field texts matter: one shared text over both fields differs
    shared = search_dismax(idxs, "node stream cursor shard", 15,
                           tie_breaker=0.4, boosts={"title": 2.0}).collect()
    assert [r["doc_id"] for r in got] != [r["doc_id"] for r in shared]

    # the boost matters: dropping it changes scores
    body_nb = {"query": {"dis_max": {
        "queries": [
            {"match": {"title": "node stream"}},
            {"match": {"text": "cursor shard"}},
        ],
        "tie_breaker": 0.4,
    }}}
    nb = es_search(idxs, body_nb, size=15).collect()
    assert [tuple(r) for r in nb] != [tuple(r) for r in got]

    with pytest.raises(ValueError, match="dis_max"):
        es_search(idxs["text"], body, size=5)


def test_simple_query_string_subset(two_field):
    """simple_query_string maps its unambiguous subset onto the
    query_string grammar: `|` = OR across fields, bare terms joined by
    default_operator; the +/-/quote operators are rejected."""
    _, idxs = two_field
    got = es_search(idxs, {"query": {"simple_query_string": {
        "query": "nodeCursor | shardGroup | streamSort",
        "fields": ["title", "text"]}}}, size=20).collect()
    want = es_search(idxs, {"query": {"query_string": {
        "query": "nodeCursor OR shardGroup OR streamSort",
        "fields": ["title", "text"]}}}, size=20).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want]

    got_and = es_search(idxs, {"query": {"simple_query_string": {
        "query": "node cursor", "fields": ["text"],
        "default_operator": "AND"}}}, size=20).collect()
    want_and = es_search(idxs, {"query": {"query_string": {
        "query": "node AND cursor", "fields": ["text"]}}},
        size=20).collect()
    assert got_and and \
        [tuple(r) for r in got_and] == [tuple(r) for r in want_and]

    # single-field operator grammars now run (tests/test_sqs.py pins
    # the full SimpleQueryParser semantics); '+a -b' == a AND NOT b
    got_ops = es_search(idxs, {"query": {"simple_query_string": {
        "query": "node + -cursor", "fields": ["text"]}}},
        size=400).collect()
    si = idxs["text"]
    want_ops = si.search_bool(must=[si.analyze_query("node")],
                              must_not=si.analyze_query("cursor"),
                              k=400).collect()
    assert got_ops and [r["doc_id"] for r in got_ops] == \
        [r["doc_id"] for r in want_ops]
    # multi-field bodies still support only the operator-free / `|`
    # shapes (per-field trees would be a different scoring model)
    with pytest.raises(ValueError, match="multi-field"):
        es_search(idxs, {"query": {"simple_query_string": {
            "query": "+node -cursor",
            "fields": ["title", "text"]}}}, size=5)


def test_es_aggs_nested_sub_aggs(two_field):
    """Metric sub-aggregations under terms buckets: per-bucket avg/max/
    cardinality recomputed independently over the collected match set;
    sub rows carry agg='parent.child' against the bucket key; non-terms
    parents reject sub-aggs."""
    from collections import defaultdict

    from newssearchengine_spark.oracle import pure
    from newssearchengine_spark.plans.dsl import es_aggs

    two, idxs = two_field
    si = idxs["text"]
    body = {
        "query": {"match": {"text": "node cursor"}},
        "aggs": {"by_repo": {
            "terms": {"field": "repo", "size": 4},
            "aggs": {
                "avg_len": {"avg": {"field": "content_len"}},
                "max_len": {"max": {"field": "content_len"}},
                "n_paths": {"cardinality": {"field": "path"}},
            },
        }},
    }
    got = es_aggs(si, body).collect()

    terms = set(si.analyze_query("node cursor"))
    rows = two.select("doc_id", "repo", "path", "text",
                      F.length("text").alias("content_len")).collect()
    match = [r for r in rows
             if terms & set(pure.analyze(r["text"], si.analyzer))]
    groups = defaultdict(list)
    for r in match:
        groups[r["repo"]].append(r)
    top = sorted(groups.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:4]

    buckets = {r["key"]: r["doc_count"] for r in got
               if r["agg"] == "by_repo"}
    assert buckets == {k: len(v) for k, v in top}
    avg = {r["key"]: r["value"] for r in got if r["agg"] == "by_repo.avg_len"}
    mx = {r["key"]: r["value"] for r in got if r["agg"] == "by_repo.max_len"}
    card = {r["key"]: r["value"] for r in got
            if r["agg"] == "by_repo.n_paths"}
    for k, v in top:
        lens = [r["content_len"] for r in v]
        assert avg[k] == pytest.approx(sum(lens) / len(lens))
        assert mx[k] == float(max(lens))
        assert card[k] == float(len({r["path"] for r in v}))

    with pytest.raises(ValueError, match="sub-agg"):
        es_aggs(si, {"aggs": {"s": {
            "stats": {"field": "content_len"},
            "aggs": {"x": {"avg": {"field": "content_len"}}}}}})

    # `order` picks WHICH buckets survive the size cut: by a sub-metric
    body_ord = {
        "query": {"match": {"text": "node cursor"}},
        "aggs": {"by_repo": {
            "terms": {"field": "repo", "size": 3,
                      "order": {"avg_len": "desc"}},
            "aggs": {"avg_len": {"avg": {"field": "content_len"}}},
        }},
    }
    got_ord = es_aggs(si, body_ord).collect()
    want = sorted(
        ((k, sum(r["content_len"] for r in v) / len(v))
         for k, v in groups.items()),
        key=lambda kv: (-kv[1], kv[0]))[:3]
    assert {r["key"] for r in got_ord if r["agg"] == "by_repo"} == \
        {k for k, _ in want}
    # ...and by _key ascending
    body_key = {
        "query": {"match": {"text": "node cursor"}},
        "aggs": {"by_repo": {"terms": {
            "field": "repo", "size": 3, "order": {"_key": "asc"}}}},
    }
    got_key = es_aggs(si, body_key).collect()
    assert sorted(r["key"] for r in got_key) == sorted(groups)[:3]
    with pytest.raises(ValueError, match="unsupported terms order"):
        es_aggs(si, {"aggs": {"t": {"terms": {
            "field": "repo", "order": {"nosuch": "desc"}}}}})

    # bool query scope: aggregate over the tree-relation match set
    body_bool = {
        "query": {"bool": {
            "must": [{"match": {"text": "node cursor"}}],
            "must_not": [{"match": {"text": "protoShard"}}]}},
        "aggs": {"by_repo": {"terms": {"field": "repo", "size": 100}}},
    }
    got_b = {r["key"]: r["doc_count"]
             for r in es_aggs(si, body_bool).collect()}
    nterms = set(si.analyze_query("protoShard"))
    want_b = defaultdict(int)
    for r in match:
        if not (nterms & set(pure.analyze(r["text"], si.analyzer))):
            want_b[r["repo"]] += 1
    assert got_b == dict(want_b)

    # metadata range scope: pushed-down doc_store predicate
    body_rng = {
        "query": {"range": {"content_len": {"gte": 300}}},
        "aggs": {"n": {"value_count": {"field": "doc_id"}}},
    }
    got_r = es_aggs(si, body_rng).collect()
    want_n = sum(1 for r in rows if r["content_len"] >= 300)
    assert [r["value"] for r in got_r] == [float(want_n)]
    with pytest.raises(ValueError, match="OR-matching text"):
        es_aggs(si, {"query": {"range": {"content_len": {"gte": 1}}},
                     "aggs": {"s": {"significant_terms": {}}}})


def test_es_aggs_filters_buckets(two_field):
    """filters agg: named predicate buckets over the match set — term,
    range, and match clauses recounted independently on the collected
    corpus."""
    from newssearchengine_spark.oracle import pure
    from newssearchengine_spark.plans.dsl import es_aggs

    two, idxs = two_field
    si = idxs["text"]
    body = {
        "query": {"match": {"text": "node cursor"}},
        "aggs": {"b": {"filters": {"filters": {
            "py": {"term": {"path": "src/module_0.py"}},
            "big": {"range": {"content_len": {"gte": 200}}},
            "has_shard": {"match": {"text": "shard"}},
            "combo": {"bool": {
                "must": [{"match": {"text": "shard"}}],
                "must_not": [{"match": {"text": "proto"}}]}},
        }}}},
    }
    got = {r["key"]: r["doc_count"] for r in es_aggs(si, body).collect()}

    qterms = set(si.analyze_query("node cursor"))
    shard = set(si.analyze_query("shard"))
    proto = set(si.analyze_query("proto"))
    rows = two.select("doc_id", "path", "text",
                      F.length("text").alias("content_len")).collect()
    match = [r for r in rows
             if qterms & set(pure.analyze(r["text"], si.analyzer))]
    assert match
    assert got["py"] == sum(1 for r in match
                            if r["path"] == "src/module_0.py")
    assert got["big"] == sum(1 for r in match if r["content_len"] >= 200)
    assert got["has_shard"] == sum(
        1 for r in match
        if shard & set(pure.analyze(r["text"], si.analyzer)))
    # bool bucket predicate: must AND must_not over the match set
    assert got["combo"] == sum(
        1 for r in match
        if (shard & set(pure.analyze(r["text"], si.analyzer)))
        and not (proto & set(pure.analyze(r["text"], si.analyzer))))
    assert got["combo"] < got["has_shard"]
    assert set(got) == {"py", "big", "has_shard", "combo"}


def test_es_sort_field_order(two_field):
    """Body-level sort orders the query's match set by doc-store
    columns (filter-then-sort), multi-key with asc/desc and doc_id
    tie-break; lookup kinds (range) sort too; from/size pages the
    sorted order; _score sort and unsupported kinds reject."""
    from newssearchengine_spark.oracle import pure

    two, idxs = two_field
    si = idxs["text"]
    body = {"query": {"match": {"text": "node cursor"}},
            "sort": [{"content_len": "desc"}, {"repo": "asc"}]}
    got = es_search(si, body, size=12).collect()
    assert got and got[0]["rank"] == 0

    qterms = set(si.analyze_query("node cursor"))
    rows = two.select("doc_id", "repo", "text",
                      F.length("text").alias("content_len")).collect()
    match = [r for r in rows
             if qterms & set(pure.analyze(r["text"], si.analyzer))]
    want = sorted(match,
                  key=lambda r: (-r["content_len"], r["repo"],
                                 r["doc_id"]))[:12]
    assert [(r["doc_id"], r["content_len"], r["repo"]) for r in got] == \
        [(r["doc_id"], r["content_len"], r["repo"]) for r in want]

    # bool scope: sort the tree-relation match set
    got_b = es_search(si, {"query": {"bool": {
        "must": [{"match": {"text": "node cursor"}}],
        "must_not": [{"match": {"text": "protoShard"}}]}},
        "sort": [{"content_len": "desc"}]}, size=12).collect()
    nterms = set(si.analyze_query("protoShard"))
    bmatch = [r for r in match
              if not (nterms & set(pure.analyze(r["text"], si.analyzer)))]
    want_b = sorted(bmatch,
                    key=lambda r: (-r["content_len"], r["doc_id"]))[:12]
    assert [(r["doc_id"], r["content_len"]) for r in got_b] == \
        [(r["doc_id"], r["content_len"]) for r in want_b]
    assert len(bmatch) < len(match)

    # lookup-kind scope + pagination over the sorted order
    page = es_search(si, {"query": {"range": {"content_len": {"gte": 100}}},
                          "sort": [{"content_len": "asc"}],
                          "from": 5}, size=5).collect()
    all10 = es_search(si, {"query": {"range": {"content_len": {"gte": 100}}},
                           "sort": [{"content_len": "asc"}]},
                      size=10).collect()
    assert [(r["doc_id"], r["content_len"]) for r in page] == \
        [(r["doc_id"], r["content_len"]) for r in all10[5:]]
    assert [r["rank"] for r in page] == list(range(5))

    with pytest.raises(ValueError, match="_score"):
        es_search(si, {"query": {"match": {"text": "node"}},
                       "sort": ["_score"]}, size=5)
    with pytest.raises(ValueError, match="sort supports"):
        es_search(si, {"query": {"match_phrase": {"text": "node cursor"}},
                       "sort": [{"content_len": "asc"}]}, size=5)


@pytest.fixture(scope="module")
def prose_idx(spark, tmp_path_factory):
    """A small PLAIN-WORD corpus: highlight's whole-word contract is for
    natural-language fields (the reference's news domain); the code
    corpus's camelCase identifiers never contain standalone analyzed
    sub-tokens, so tags can't fire there (documented operator limit)."""
    from newssearchengine_spark.plans.index_build import build_index

    words = ["merge", "table", "window", "stream", "hash", "sort",
             "probe", "spill", "scan", "join", "tables"]
    rows = [(i, " ".join(words[(i + j) % len(words)]
                         for j in range(12)))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    d = str(tmp_path_factory.mktemp("hl") / "idx")
    build_index(docs, d, CFG, text_col="text", resume=False)
    return docs, SegmentIndex(spark, d)


def test_es_highlight_body(prose_idx):
    """A top-level highlight key appends highlighted/fragment columns:
    hits identical to the un-highlighted body, tags exactly the
    operators.text.highlight composition over the analyzed terms."""
    from newssearchengine_spark.operators.text import highlight as hl_op

    docs, si = prose_idx
    base = {"query": {"match": {"text": "merge table"}}}
    body = dict(base, highlight={"fields": {"text": {}}})
    got = es_search(si, body, size=10, source=docs).collect()
    plain = es_search(si, base, size=10).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in got] == \
        [(r["rank"], r["doc_id"], r["score"]) for r in plain]
    assert got, "highlight test needs hits"
    terms = sorted(set(si.analyze_query("merge table")))
    ids = [r["doc_id"] for r in got]
    want = {
        r["doc_id"]: (r["highlighted"], r["fragment"])
        for r in hl_op(
            docs.filter(F.col("doc_id").isin(ids)).select("doc_id", "text"),
            terms).collect()
    }
    assert all((r["highlighted"], r["fragment"]) == want[r["doc_id"]]
               for r in got)
    assert all("<em>" in r["highlighted"] and r["fragment"]
               for r in got)


def test_es_highlight_custom_tags_and_errors(prose_idx):
    docs, si = prose_idx
    body = {"query": {"match": {"text": "window"}},
            "highlight": {"fields": {"text": {
                "pre_tags": ["<b>"], "post_tags": ["</b>"]}}}}
    got = es_search(si, body, size=5, source=docs).collect()
    assert got and all("<b>" in r["highlighted"] for r in got)
    with pytest.raises(ValueError, match="source"):
        es_search(si, body, size=5)  # no source DataFrame


def test_es_highlight_expansion_kinds(prose_idx):
    """Highlight over prefix/fuzzy/wildcard queries tags the DICTIONARY
    EXPANSION the search actually ran (not the raw pattern): hits stay
    identical to the un-highlighted body and every tagged token is one
    of the engine's own expansion terms."""
    import re

    docs, si = prose_idx
    for q in ({"prefix": {"text": "merg"}},
              {"wildcard": {"text": "merg*"}},
              {"fuzzy": {"text": {"value": "merge", "fuzziness": 1}}}):
        body = {"query": q, "highlight": {"fields": {"text": {}}}}
        got = es_search(si, body, size=8, source=docs).collect()
        plain = es_search(si, {"query": q}, size=8).collect()
        assert got and \
            [(r["rank"], r["doc_id"], r["score"]) for r in got] == \
            [(r["rank"], r["doc_id"], r["score"]) for r in plain]
        kind, spec = next(iter(q.items()))
        if kind == "prefix":
            exp = set(si.expand_prefix("merg"))
        elif kind == "wildcard":
            exp = set(si.expand_wildcard("merg*"))
        else:
            exp = set(si.expand_fuzzy("merge", max_edits=1))
        tagged = {t for r in got
                  for t in re.findall(r"<em>([^<]+)</em>",
                                      r["highlighted"])}
        assert tagged and {t.lower() for t in tagged} <= exp


def test_es_msearch_matches_per_body_search(two_field):
    """_msearch == a loop of es_search per body, in one job; duplicate
    bodies ride the search_many dedup and still fan out per position."""
    from newssearchengine_spark.plans.dsl import es_msearch

    _, idxs = two_field
    bodies = [
        {"query": {"match": {"text": "nodeCursor shardGroup"}}},
        {"query": {"query_string": {"fields": ["text"],
                                    "query": "protoShard OR closeNode"}}},
        {"query": {"match": {"text": "nodeCursor shardGroup"}}},  # dup
    ]
    got = es_msearch(idxs["text"], bodies, size=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    assert set(by_q) == {"0", "1", "2"}
    for i, b in enumerate(bodies):
        want = [(r["rank"], r["doc_id"], r["score"])
                for r in es_search(idxs["text"], b, size=8).collect()]
        assert sorted(by_q[str(i)]) == sorted(want) and want
    assert by_q["0"] == by_q["2"]  # the dedup fan-out


def test_es_msearch_heterogeneous_bodies(two_field):
    """_msearch accepts ANY ranked body: same-field OR bodies batch per
    field group (one search_many job each), everything else — boolean
    grammars, bool bodies, object-form match options — falls back to
    its own es_search; every block equals the per-body run. Non-ranked
    outputs (highlight) are rejected: one relation, one schema."""
    from newssearchengine_spark.plans.dsl import es_msearch

    _, idxs = two_field
    with pytest.raises(ValueError, match="at least one"):
        es_msearch(idxs["text"], [])
    bodies = [
        {"query": {"match": {"title": "nodeCursor"}}},      # field group A
        {"query": {"match": {"text": "nodeCursor"}}},       # field group B
        {"query": {"query_string": {"fields": ["text"],
                                    "query": "protoShard AND closeNode"}}},
        {"query": {"bool": {
            "must": [{"match": {"text": "nodeCursor shardGroup"}}],
            "must_not": [{"match": {"text": "protoShard"}}]}}},
        {"query": {"match": {"text": {"query": "node cursor",
                                      "operator": "and"}}}},
    ]
    got = es_msearch(idxs, bodies, size=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    assert set(by_q) == {"0", "1", "2", "3", "4"}
    for i, b in enumerate(bodies):
        want = [(r["rank"], r["doc_id"], r["score"])
                for r in es_search(idxs, b, size=8).collect()]
        assert sorted(by_q[str(i)]) == sorted(want) and want, i
    with pytest.raises(ValueError, match="highlight"):
        es_msearch(idxs, [{
            "query": {"match": {"text": "nodeCursor"}},
            "highlight": {"fields": {"text": {}}}}], size=5)
    # a fuzziness-carrying match must NOT silently batch as plain OR —
    # it falls back to its own es_search body (which runs the fuzzy
    # expansion) and still equals the per-body run
    fz_body = {"query": {"match": {"text": {
        "query": "nodeCursor", "fuzziness": 1}}}}
    got_fz = es_msearch(idxs, [fz_body], size=5).collect()
    want_fz = es_search(idxs, fz_body, size=5).collect()
    assert got_fz and sorted(
        (r["rank"], r["doc_id"], r["score"]) for r in got_fz) == sorted(
        (r["rank"], r["doc_id"], r["score"]) for r in want_fz)


def test_es_rescore_semantics(prose_idx):
    """rescore == python recomputation from the engine's own base hits
    and rescore leaf scores; rw=0 degenerates to the base ranking."""
    from decimal import ROUND_HALF_UP, Decimal

    docs, si = prose_idx

    def r6(x):
        return float(Decimal(repr(float(x)))
                     .quantize(Decimal("0.000001"),
                               rounding=ROUND_HALF_UP))

    base_body = {"query": {"match": {"text": "merge table"}}}
    body = dict(base_body, rescore={
        "window_size": 8,
        "query": {"rescore_query": {"match": {"text": "window stream"}},
                  "query_weight": 1.0, "rescore_query_weight": 2.0}})
    got = [(r["rank"], r["doc_id"], r["score"])
           for r in es_search(si, body, size=8).collect()]
    base = sorted(es_search(si, base_body, size=8).collect(),
                  key=lambda r: r["rank"])
    rterms = sorted(set(si.analyze_query("window stream")))
    rmap = {r["doc_id"]: r["score"]
            for r in si.score_all(rterms).collect()}
    want = sorted(((r6(r6(r["score"]) + 2.0 * rmap.get(r["doc_id"], 0.0)),
                    r["doc_id"]) for r in base),
                  key=lambda t: (-t[0], t[1]))
    assert got == [(i, d, s) for i, (s, d) in enumerate(want)] and got
    # rw=0: ranking collapses back to the base order
    body0 = dict(base_body, rescore={
        "window_size": 8,
        "query": {"rescore_query": {"match": {"text": "window stream"}},
                  "query_weight": 1.0, "rescore_query_weight": 0.0}})
    got0 = [(r["rank"], r["doc_id"]) for r in
            es_search(si, body0, size=8).collect()]
    assert got0 == [(r["rank"], r["doc_id"]) for r in base]


def test_es_rescore_tail_keeps_base_order(prose_idx):
    """size > window: ranks past the window keep the base ordering and
    base (6dp) scores below the rescored block — the ES concat."""
    _, si = prose_idx
    base_body = {"query": {"match": {"text": "merge table"}}}
    body = dict(base_body, rescore={
        "window_size": 4,
        "query": {"rescore_query": {"match": {"text": "window"}},
                  "rescore_query_weight": 3.0}})
    got = sorted(es_search(si, body, size=10).collect(),
                 key=lambda r: r["rank"])
    base = sorted(es_search(si, base_body, size=10).collect(),
                  key=lambda r: r["rank"])
    assert [r["doc_id"] for r in got[4:]] == [r["doc_id"] for r in base[4:]]
    assert {r["doc_id"] for r in got[:4]} == {r["doc_id"] for r in base[:4]}


def test_es_collapse_semantics(two_field):
    """collapse == best hit per field value over the COMPLETE match set,
    recomputed in python from the engine's own leaf relations."""
    two, idxs = two_field
    si = idxs["text"]
    body = {"query": {"match": {"text": "nodeCursor shardGroup"}},
            "collapse": {"field": "repo"}}
    got = [(r["rank"], r["doc_id"], r["score"], r["repo"])
           for r in es_search(idxs, body, size=6).collect()]
    terms = sorted(set(si.analyze_query("nodeCursor shardGroup")))
    scores = {r["doc_id"]: round(r["score"], 6)
              for r in si.score_all(terms).collect()}
    repo_of = {r["doc_id"]: r["repo"]
               for r in two.select("doc_id", "repo").collect()}
    best: dict[str, tuple] = {}
    for d, s in scores.items():
        key = repo_of[d]
        cand = (-s, d)
        if key not in best or cand < best[key]:
            best[key] = cand
    want = sorted(((-s, d, repo) for repo, (s, d) in
                   ((k, v) for k, v in best.items())),
                  key=lambda t: (-t[0], t[1]))[:6]
    assert got == [(i, d, s, repo)
                   for i, (s, d, repo) in enumerate(want)] and got
    assert len({r[3] for r in got}) == len(got)  # one hit per repo


def test_es_suggest_semantics(prose_idx):
    """term suggester == python Levenshtein over the index dictionary;
    suggest_mode 'missing' skips in-dictionary tokens."""
    import os

    from newssearchengine_spark.plans.dsl import es_suggest

    _, si = prose_idx
    stats = {r["term"]: r["df"] for r in si.spark.read.parquet(
        os.path.join(si.index_dir, "term_stats")).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    body = {"suggest": {"fix": {"text": "tble mrge",
                                "term": {"max_edits": 1, "size": 3}}}}
    got = [(r["token"], r["option"], r["dist"], r["freq"])
           for r in es_suggest(si, body).collect()]
    want = []
    for tok in ("mrge", "tble"):
        cand = sorted(
            ((lev(t, tok), -df, t) for t, df in stats.items()
             if t != tok and lev(t, tok) <= 1),
        )[:3]
        want += [(tok, t, d, -ndf) for d, ndf, t in cand]
    assert sorted(got) == sorted(want) and got
    # in-dictionary token with a 1-edit neighbor ('tables'): 'missing'
    # (the ES default) skips it, 'always' corrects it anyway
    body_in = {"suggest": {"fix": {"text": "table",
                                   "term": {"max_edits": 1, "size": 3}}}}
    assert es_suggest(si, body_in).count() == 0
    body_in["suggest"]["fix"]["term"]["suggest_mode"] = "always"
    opts = {r["option"] for r in es_suggest(si, body_in).collect()}
    assert "tables" in opts


def test_es_highlight_composes_with_rescore(prose_idx):
    """highlight wraps rescore: the tagged hits carry the RESCORED
    ranking, not the base one."""
    docs, si = prose_idx
    body = {"query": {"match": {"text": "merge table"}},
            "rescore": {"window_size": 8,
                        "query": {"rescore_query":
                                  {"match": {"text": "window stream"}},
                                  "rescore_query_weight": 2.0}},
            "highlight": {"fields": {"text": {}}}}
    got = es_search(si, body, size=8, source=docs).collect()
    plain = {k: v for k, v in body.items() if k != "highlight"}
    want = es_search(si, plain, size=8).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in got] == \
        [(r["rank"], r["doc_id"], r["score"]) for r in want] and got
    assert all("<em>" in r["highlighted"] for r in got)


def test_es_count_semantics(prose_idx):
    """_count == the distinct matched-doc count, per kind: OR match
    (postings membership), nested bool (the complete tree relation),
    and a metadata range predicate."""
    from newssearchengine_spark.plans.dsl import es_count

    docs, si = prose_idx
    texts = {r["doc_id"]: set(r["text"].split())
             for r in docs.collect()}
    # OR match
    n = es_count(si, {"query": {"match": {"text": "merge table"}}}
                 ).collect()[0]["count"]
    assert n == sum(1 for ts in texts.values()
                    if ts & {"merge", "table"})
    # nested bool: merge AND (window OR stream), NOT hash
    body = {"query": {"bool": {
        "must": [{"match": {"text": "merge"}},
                 {"bool": {"should": [{"match": {"text": "window"}},
                                      {"match": {"text": "stream"}}]}}],
        "must_not": [{"match": {"text": "hash"}}]}}}
    n2 = es_count(si, body).collect()[0]["count"]
    assert n2 == sum(
        1 for ts in texts.values()
        if "merge" in ts and (ts & {"window", "stream"})
        and "hash" not in ts)
    # match_all == the live corpus size
    assert es_count(si, {"query": {"match_all": {}}}
                    ).collect()[0]["count"] == len(texts)
    # expansion kinds count the expansion's postings membership
    np_ = es_count(si, {"query": {"prefix": {"text": "merg"}}}
                   ).collect()[0]["count"]
    exp = set(si.expand_prefix("merg"))
    assert exp and np_ == sum(1 for ts in texts.values()
                              if {t.lower() for t in ts} & exp)
    nf = es_count(si, {"query": {"fuzzy": {"text": {
        "value": "merge", "fuzziness": 1}}}}).collect()[0]["count"]
    expf = set(si.expand_fuzzy("merge", max_edits=1))
    assert expf and nf == sum(1 for ts in texts.values()
                              if {t.lower() for t in ts} & expf)
    with pytest.raises(ValueError, match="unsupported count"):
        es_count(si, {"query": {"span_near": {}}})


def test_multi_match_operator_and(two_field):
    """multi_match operator:'and' (retired rejection): AND between ALL
    analyzed tokens PER FIELD, per-field summed-BM25 DisMax-combined —
    verified against a pure-python per-field oracle; single field must
    equal the match operator:'and' engine shape exactly."""
    from newssearchengine_spark.oracle import pure

    two, idxs = two_field
    q = "nodeCursor protoShard"
    body = {"query": {"multi_match": {
        "fields": ["title", "text"], "query": q, "operator": "and"}}}
    got = es_search(idxs, body, size=400).collect()

    raw = {f: {r["doc_id"]: r[f] for r in
               two.select("doc_id", f).collect()}
           for f in ("title", "text")}
    want: dict[int, float] = {}
    per_field: dict[str, dict[int, float]] = {}
    for f, si in idxs.items():
        toks = sorted(set(si.analyze_query(q)))
        oidx = pure.OracleIndex.build(raw[f], si.analyzer)
        per_field[f] = {
            d: oidx.score(toks, d) for d in oidx.dl
            if all(d in oidx.postings.get(t, {}) for t in toks)}
    for d in set().union(*[set(m) for m in per_field.values()]):
        ss = [m.get(d, 0.0) for m in per_field.values()]
        want[d] = max(ss)  # tie_breaker 0.0
    assert {r["doc_id"] for r in got} == set(want) and got
    for r in got:
        assert r["score"] == pytest.approx(want[r["doc_id"]], abs=2e-6)
    keys = [(-r["score"], r["doc_id"]) for r in got]
    assert keys == sorted(keys)
    # a camelCase word is REQUIRED per analyzed token: every hit's text
    # (or title) carries both 'node' and 'cursor' and both 'proto' and
    # 'shard' in the SAME field
    assert all(any(d in m for m in per_field.values())
               for d in {r["doc_id"] for r in got})

    # single field == the match operator:'and' engine shape, exactly
    si = idxs["text"]
    sgot = es_search(si, {"query": {"multi_match": {
        "fields": ["text"], "query": q, "operator": "and"}}},
        size=25).collect()
    toks = sorted(set(si.analyze_query(q)))
    swant = si.search_bool(must=[[t] for t in toks], k=25).collect()
    assert sgot and [tuple(r) for r in sgot] == [tuple(r) for r in swant]
    mgot = es_search(si, {"query": {"match": {"text": {
        "query": q, "operator": "and"}}}}, size=25).collect()
    assert [tuple(r) for r in mgot] == [tuple(r) for r in sgot]

    # most_fields + operator:'and' sums per-field scores (tb=1.0)
    body_mf = {"query": {"multi_match": {
        "fields": ["title", "text"], "query": q, "operator": "and",
        "type": "most_fields"}}}
    got_mf = es_search(idxs, body_mf, size=400).collect()
    want_mf = {d: sum(m.get(d, 0.0) for m in per_field.values())
               for d in want}
    assert {r["doc_id"] for r in got_mf} == set(want_mf)
    for r in got_mf:
        assert r["score"] == pytest.approx(want_mf[r["doc_id"]],
                                           abs=2e-6)
    # unknown operators still reject
    with pytest.raises(ValueError, match="multi_match operator"):
        es_search(idxs, {"query": {"multi_match": {
            "fields": ["text"], "query": q, "operator": "xor"}}}, 5)


def test_multi_match_type_phrase(two_field):
    """multi_match type:'phrase' / 'phrase_prefix' (retired rejection):
    a match_phrase (match_phrase_prefix) per field, DisMax-combined —
    verified against the pinned single-field phrase engines combined in
    python; single field must equal search_phrase exactly."""
    two, idxs = two_field
    si = idxs["text"]
    # a REAL adjacent bigram from the corpus: the first two title words
    # of a doc (title = the content's first six words)
    t0 = two.select("title").limit(1).collect()[0]["title"].split()
    q = " ".join(t0[:2])

    def combine(per_field: dict[str, dict[int, float]], tb: float,
                size: int) -> list[tuple[int, float]]:
        alld = set().union(*[set(m) for m in per_field.values()])
        out = []
        for d in alld:
            ss = [m.get(d, 0.0) for m in per_field.values()]
            out.append((d, max(ss) + tb * (sum(ss) - max(ss))))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:size]

    # multi-field phrase
    got = es_search(idxs, {"query": {"multi_match": {
        "fields": ["title", "text"], "query": q,
        "type": "phrase"}}}, size=50).collect()
    pf = {f: {r["doc_id"]: r["score"]
              for r in sidx.search_phrase(q, 100000).collect()}
          for f, sidx in idxs.items()}
    want = combine(pf, 0.0, 50)
    assert got and [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, abs=2e-6)

    # single field == search_phrase exactly (incl. slop passthrough)
    sgot = es_search(si, {"query": {"multi_match": {
        "fields": ["text"], "query": q, "type": "phrase",
        "slop": 1}}}, size=20).collect()
    swant = si.search_phrase(q, 20, slop=1).collect()
    assert sgot and [tuple(r) for r in sgot] == [tuple(r) for r in swant]

    # multi-field phrase_prefix: last analyzed token expands per field
    pq = q[: len(q) - 2] if len(q) > 4 else q
    pgot = es_search(idxs, {"query": {"multi_match": {
        "fields": ["title", "text"], "query": pq,
        "type": "phrase_prefix", "max_expansions": 10}}},
        size=50).collect()
    ppf = {f: {r["doc_id"]: r["score"]
               for r in sidx.search_phrase_prefix(
                   pq, 100000, max_expansions=10).collect()}
           for f, sidx in idxs.items()}
    pwant = combine(ppf, 0.0, 50)
    assert pgot and [r["doc_id"] for r in pgot] == [d for d, _ in pwant]
    for r, (_, s) in zip(pgot, pwant):
        assert r["score"] == pytest.approx(s, abs=2e-6)

    # sloppy prefix phrases (r5: rejection retired): per-field sloppy
    # prefix relations, DisMax-combined like the exact form
    spgot = es_search(idxs, {"query": {"multi_match": {
        "fields": ["title", "text"], "query": pq,
        "type": "phrase_prefix", "slop": 2,
        "max_expansions": 10}}}, size=50).collect()
    spf = {f: {r["doc_id"]: r["score"]
               for r in sidx.search_phrase_prefix(
                   pq, 100000, max_expansions=10, slop=2).collect()}
           for f, sidx in idxs.items()}
    spwant = combine(spf, 0.0, 50)
    assert spgot and [r["doc_id"] for r in spgot] == \
        [d for d, _ in spwant]
    for r, (_, s) in zip(spgot, spwant):
        assert r["score"] == pytest.approx(s, abs=2e-6)


def test_es_search_indices_merge(two_field):
    """Multi-INDEX search (GET /idx1,idx2/_search): the same body runs
    per index with per-index statistics, hits carry their index name,
    and the coordinating merge equals a python-side merge of the
    per-index es_search results at 6dp (score desc, idx asc, doc_id
    asc). Works for any ranked body kind (match + bool here)."""
    from newssearchengine_spark.plans.dsl import es_search_indices

    _, idxs = two_field
    indices = {"alpha": idxs["text"], "beta": idxs["title"]}
    k = 25
    for body in (
        {"query": {"match": {"content": "node cursor stream"}}},
        {"query": {"bool": {
            "must": [{"match": {"content": "node"}}],
            "should": [{"match": {"content": "stream"}}]}}},
    ):
        got = es_search_indices(indices, body, size=k).collect()
        pool = []
        for name, si in indices.items():
            for r in es_search(si, body, size=k).collect():
                pool.append((name, r["doc_id"], round(r["score"], 6)))
        pool.sort(key=lambda t: (-t[2], t[0], t[1]))
        want = pool[:k]
        assert [(r["idx"], r["doc_id"], r["score"]) for r in got] == want
        assert [r["rank"] for r in got] == list(range(len(got)))
    # a deep page drains BOTH indexes (per-index stats differ — the
    # short-doc title index outranks at the top, the text index must
    # still surface below)
    deep = es_search_indices(
        indices, {"query": {"match": {"content": "node cursor"}}},
        size=400).collect()
    assert len({r["idx"] for r in deep}) == 2
    with pytest.raises(ValueError, match="at least one"):
        es_search_indices({}, {"query": {"match_all": {}}}, 5)


def test_multi_match_cross_fields(spark, two_field):
    """cross_fields: blended-df statistics (df = max across fields),
    per-field partials with field-local norms, per-term dismax-blend,
    summed over terms — python oracle from the collected corpus; and
    the degenerate invariant: querying the SAME field twice at
    tie_breaker 0 equals the single-field search exactly."""
    import math as _math

    from newssearchengine_spark.oracle import pure

    two, idxs = two_field
    tie, tboost = 0.3, 2.0
    text = "nodeCursor shardGroup"
    si = idxs["text"]
    toks = sorted(set(si.analyze_query(text)))
    rows = two.select("doc_id", "title", "text").collect()
    k1, b = 1.2, 0.75

    fld_terms = {f: {r["doc_id"]: pure.analyze(r[f], idxs[f].analyzer)
                     for r in rows} for f in ("title", "text")}
    stats = {}
    for f in ("title", "text"):
        dls = {d: len(ts) for d, ts in fld_terms[f].items() if ts}
        stats[f] = (len(dls), sum(dls.values()) / len(dls), dls)
    df_b = {t: max(sum(1 for ts in fld_terms[f].values() if t in ts)
                   for f in ("title", "text")) for t in toks}
    boosts = {"title": tboost, "text": 1.0}
    want = {}
    for r in rows:
        per_term = {}
        for f in ("title", "text"):
            n, avgdl, dls = stats[f]
            ts = fld_terms[f][r["doc_id"]]
            dl = len(ts)
            for t in toks:
                tf = ts.count(t)
                if tf == 0 or df_b[t] == 0:
                    continue
                idf = _math.log(1 + (n - df_b[t] + 0.5) / (df_b[t] + 0.5))
                p = (idf * tf * (k1 + 1)
                     / (tf + k1 * (1 - b + b * dl / avgdl))) * boosts[f]
                per_term.setdefault(t, []).append(p)
        if per_term:
            s = sum(max(ps) + tie * (sum(ps) - max(ps))
                    for ps in per_term.values())
            want[r["doc_id"]] = round(s, 6)
    wl = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    body = {"query": {"multi_match": {
        "type": "cross_fields", "fields": [f"title^{tboost}", "text"],
        "query": text, "tie_breaker": tie}}}
    got = es_search(idxs, body, size=20).collect()
    assert wl and [(r["doc_id"], r["score"]) for r in got] == wl

    # same-field-twice at tie 0 == the single-field search (blended df
    # degenerates to the field df; max over identical partials)
    from newssearchengine_spark.plans.search import search_cross_fields
    dup = search_cross_fields({"a": si, "b": si}, text, 15,
                              tie_breaker=0.0).collect()
    single = si.search(text, 15).collect()
    assert [(r["doc_id"], r["score"]) for r in dup] == \
        [(r["doc_id"], round(r["score"], 6)) for r in single]
    with pytest.raises(ValueError, match="operator"):
        es_search(idxs, {"query": {"multi_match": {
            "type": "cross_fields", "fields": ["title", "text"],
            "query": text, "operator": "and"}}}, size=5)


def test_doc_dead_in_one_field_drops_from_every_multi_field_shape(
        spark, two_field, tmp_path, monkeypatch):
    """A doc tombstoned in ONE field's index only is gone from every
    multi-field shape — query_string OR / AND / mixed, multi_match
    most_fields / cross_fields / phrase / phrase_prefix — in both
    placements, and every other hit keeps its rank order and score."""
    import shutil

    import newssearchengine_spark.plans.search as S
    from newssearchengine_spark.plans.delete import delete_docs

    _, idxs = two_field
    f2 = ["title", "text"]
    bodies = {
        "qs_or": {"query_string": {"fields": f2,
                                   "query": "node OR cursor"}},
        "qs_and": {"query_string": {"fields": f2,
                                    "query": "node AND cursor"}},
        "qs_mixed": {"query_string": {"fields": f2,
                                      "query": "node AND cursor OR zzz"}},
        "most_fields": {"multi_match": {"fields": f2, "type": "most_fields",
                                        "query": "node cursor"}},
        "cross_fields": {"multi_match": {"fields": f2,
                                         "type": "cross_fields",
                                         "query": "node cursor"}},
        "phrase": {"multi_match": {"fields": f2, "type": "phrase",
                                   "query": "node cursor"}},
        "phrase_prefix": {"multi_match": {"fields": f2,
                                          "type": "phrase_prefix",
                                          "query": "node curs"}},
    }

    def run(fidx):
        return {n: [(r["doc_id"], r["score"]) for r in es_search(
            fidx, {"query": b}, size=500).collect()]
            for n, b in bodies.items()}

    before = run(idxs)
    # a doc every shape returns, with the phrase in its title
    common = set.intersection(*({d for d, _ in v} for v in before.values()))
    assert common
    victim = min(common)
    d = str(tmp_path / "title")
    shutil.copytree(idxs["title"].index_dir, d)
    delete_docs(spark, d, [victim])
    one_dead = {"title": SegmentIndex(spark, d), "text": idxs["text"]}
    want = {n: [r for r in v if r[0] != victim] for n, v in before.items()}
    assert run(one_dead) == want
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    assert run(one_dead) == want
    monkeypatch.undo()
    one_dead["title"].close()


def test_long_form_match_in_filter_context(two_field):
    """A long-form {"match": {field: {"query": ...}}} in filter context
    equals its short form: in a flat and a nested bool filter, a
    function_score function's filter and a `filters` agg bucket.
    operator "and" requires every token, a boost is a no-op (filters
    never score), and any other option is rejected by name."""
    from newssearchengine_spark.plans.dsl import es_aggs

    _, idxs = two_field
    si = idxs["text"]

    def rows(body, size=50):
        return [tuple(r) for r in es_search(si, body, size=size).collect()]

    def flat(filt):
        return {"query": {"bool": {"must": [{"match": {"text": "node"}}],
                                   "filter": filt}}}

    def nested(filt):
        return {"query": {"bool": {
            "must": [{"bool": {"should": [{"match": {"text": "node"}},
                                          {"match": {"text": "shard"}}]}}],
            "filter": filt}}}

    short = [{"match": {"text": "cursor"}}]
    longf = [{"match": {"text": {"query": "cursor"}}}]
    boosted = [{"match": {"text": {"query": "cursor", "boost": 3.0}}}]
    both = [{"match": {"text": "cursor"}}, {"match": {"text": "stream"}}]
    anded = [{"match": {"text": {"query": "cursor stream",
                                 "operator": "and"}}}]
    for shape in (flat, nested):
        want = rows(shape(short))
        assert want
        assert rows(shape(longf)) == want == rows(shape(boosted))
        want = rows(shape(both))
        assert want and rows(shape(anded)) == want

    def fscore(filt):
        return {"query": {"function_score": {
            "query": {"match": {"text": "node cursor"}},
            "functions": [{"filter": filt, "weight": 2.0}]}}}

    want = rows(fscore({"match": {"text": "shard"}}))
    assert want
    assert rows(fscore({"match": {"text": {"query": "shard"}}})) == want
    assert rows(fscore({"match": {"text": {
        "query": "shard", "operator": "and", "boost": 2}}})) == want

    def buckets(filt):
        return {r["key"]: r["doc_count"] for r in es_aggs(si, {
            "query": {"match": {"text": "node cursor"}},
            "aggs": {"b": {"filters": {"filters": {"f": filt}}}}}).collect()}

    want = buckets({"match": {"text": "shard"}})
    assert want["f"] > 0
    assert buckets({"match": {"text": {"query": "shard"}}}) == want

    with pytest.raises(ValueError, match="fuzziness"):
        es_search(si, flat([{"match": {"text": {"query": "cursor",
                                                "fuzziness": 1}}}]))
    with pytest.raises(ValueError, match="fuzziness"):
        es_search(si, fscore({"match": {"text": {"query": "shard",
                                                 "fuzziness": 1}}}))
