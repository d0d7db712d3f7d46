"""Physical-plan assertions: the optimizations we claim must show up in
`.explain("formatted")` — pushdown reaching the parquet scan, partition
pruning on the segment table, broadcast joins for small sides, and
whole-stage codegen over the analyzer expressions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newssearchengine_spark.config import ENGLISH_MIN_STOPWORDS, AnalyzerConfig, IndexConfig
from newssearchengine_spark.functions.analysis import doc_term_freqs
from newssearchengine_spark.operators.bm25 import bm25_scores


def plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_and_projection_pushed_to_scan(spark, sf_tiny):
    li = spark.read.parquet(f"{sf_tiny}/lineitem.parquet")
    q = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_quantity")
    p = plan(q)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in p
    # column pruning: the scan reads only the 3 needed columns
    lines = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert lines and "l_extendedprice" not in lines[0]
    assert "l_orderkey" in lines[0] and "l_returnflag" in lines[0]


def test_segment_scan_prunes_buckets_and_pushes_terms(spark, tmp_path):
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.plans.index_build import build_index, term_bucket
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    corpus = assign_doc_ids(source_files(spark, 300, seed=5, partitions=2),
                            num_partitions=2)
    d = str(tmp_path / "idx")
    cfg = IndexConfig(n_buckets=8, doc_range=128)
    build_index(corpus, d, cfg)
    # cache=False => the plan shows the raw parquet scan with pruning
    si = SegmentIndex(spark, d, cache=False)
    q = si.search(["cache", "index"], 10)
    p = plan(q)
    buckets = sorted({term_bucket(t, 8) for t in ["cache", "index"]})
    assert "PartitionFilters" in p and "bucket" in p      # directory pruning
    for b in buckets:
        assert str(b) in p
    assert "PushedFilters" in p and "In(term" in p        # row-group pushdown


def test_bm25_uses_broadcast_joins(spark, sf_tiny):
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet")
    tf = doc_term_freqs(docs, text_col="text",
                        cfg=AnalyzerConfig(stopwords=ENGLISH_MIN_STOPWORDS))
    scores = bm25_scores(tf, ["table", "hash"])
    p = plan(scores)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_analyzer_is_jvm_side(spark, sf_tiny):
    """The hot tokenize path must contain NO Python evaluation nodes (the
    expressions are Catalyst-native; the explode's Generate node is JVM too,
    it just doesn't fuse into a codegen span)."""
    from newssearchengine_spark.functions.analysis import analyze_expr

    cfg = AnalyzerConfig(stopwords=ENGLISH_MIN_STOPWORDS)
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet")
    proj = docs.select(analyze_expr(F.col("text"), cfg).alias("toks"))
    p_proj = plan(proj)
    # regexp/lower/split codegen; the array-filter lambda is JVM
    # CodegenFallback (higher-order fns don't fuse) — still zero Python
    assert "* ColumnarToRow" in p_proj          # codegen span present
    toks = docs.select(F.explode(analyze_expr(F.col("text"), cfg)).alias("term"))
    p_exp = plan(toks)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert bad not in p_proj and bad not in p_exp


def test_lookup_join_broadcasts_dimension(spark, sf_tiny):
    from newssearchengine_spark.gate.relational import rel_lookup_join

    p = plan(rel_lookup_join(spark, sf_tiny))
    assert "BroadcastHashJoin" in p


def test_phrase_plan_is_jvm_side(spark, sf_tiny):
    """Phrase matching (sequence/filter/element_at) must stay in codegen —
    no Python evaluation anywhere in the plan."""
    from newssearchengine_spark.operators.bm25 import phrase_bm25_topk

    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet")
    # _lazy: the production form eagerly materializes its <= k rows (cache
    # hygiene); the lazy form exposes the live plan this test inspects
    q = phrase_bm25_topk(docs, ["table", "scan"], 10, text_col="text",
                         analyzer=AnalyzerConfig(
                             stopwords=ENGLISH_MIN_STOPWORDS), _lazy=True)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the consecutive-match predicate compiles to higher-order exprs on the
    # scan's filter (AQE hides codegen ids until execution)
    assert "lambdafunction" in p and "TakeOrderedAndProject" in p


def test_multi_query_batch_prunes_buckets(spark, tmp_path, monkeypatch):
    """search_many scans only the union of the queries' term buckets
    (inspected on the distributed plan — the driver placement reads
    with pyarrow and returns a local relation)."""
    import newssearchengine_spark.plans.search as S
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.plans.index_build import build_index, term_bucket
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    corpus = assign_doc_ids(source_files(spark, 300, seed=5, partitions=2),
                            num_partitions=2)
    d = str(tmp_path / "idx_many")
    build_index(corpus, d, IndexConfig(n_buckets=8, doc_range=128))
    si = SegmentIndex(spark, d, cache=False)
    monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
    q = si.search_many({"a": ["cache"], "b": ["index"]}, 10)
    p = plan(q)
    assert "PartitionFilters" in p and "bucket" in p
    assert "PushedFilters" in p and "In(term" in p


def _live_parquet_scans(p: str) -> int:
    """Count 'Scan parquet' nodes NOT inside an InMemoryRelation lineage
    printout (a cached relation prints the plan that BUILT it, scans
    included, but never re-executes it). Subtree membership is decided by
    indentation: a scan is cached iff an InMemoryRelation line above it is
    still 'open' (no subsequent line at indent <= the relation's)."""
    def indent(ln: str) -> int:
        for i, ch in enumerate(ln):
            if ch.isalnum() or ch == '=':
                return i
        return len(ln)

    live = 0
    cache_stack: list[int] = []
    for ln in p.splitlines():
        if not ln.strip():
            continue
        ind = indent(ln)
        while cache_stack and ind <= cache_stack[-1]:
            cache_stack.pop()
        if "InMemoryRelation" in ln:
            cache_stack.append(ind)
        elif "Scan parquet" in ln and not cache_stack:
            live += 1
    return live


def test_hot_ops_single_corpus_scan(spark, sf_tiny):
    """significant_terms / bool_bm25_topk / phrase_bm25_topk persist their
    tokenized relation (one corpus tokenize pass shared by the stats
    action and the scoring plan), eagerly materialize the tiny top-k, and
    UNPERSIST before returning: the returned plan performs zero live
    parquet scans AND no cached relation is leaked into the session
    (ADVICE leak fix — long-lived sessions must not accumulate caches)."""
    from newssearchengine_spark.operators.bm25 import (
        bool_bm25_topk, phrase_bm25_topk, significant_terms,
    )

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    cfg = AnalyzerConfig(stopwords=ENGLISH_MIN_STOPWORDS)
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet")

    before = n_cached()
    q1 = significant_terms(docs, ["table", "hash"], 10, text_col="text",
                           analyzer=cfg)
    q2 = bool_bm25_topk(docs, must=["table"], should=["hash"],
                        must_not=["value"], k=10, text_col="text",
                        analyzer=cfg)
    q3 = phrase_bm25_topk(docs, ["table", "scan"], 10, text_col="text",
                          analyzer=cfg)
    assert n_cached() == before, "persisted relation leaked by a hot op"
    for q in (q1, q2, q3):
        assert q.count() > 0
        assert _live_parquet_scans(plan(q, mode="simple")) == 0
    # sanity: the helper DOES see a live scan on an uncached plan
    assert _live_parquet_scans(
        plan(docs.select("doc_id"), mode="simple")) == 1


def test_ltr_rerank_persists_feature_subtree(spark):
    """ex_ltr_rerank materializes `feats` ONCE: the returned plan reads
    the cache for all three consumers (train stats, weights, scoring) and
    performs zero live parquet scans (VERDICT fix: the unpersisted
    feature subtree re-ran the whole retrieval pipeline per branch)."""
    from newssearchengine_spark.gate.experiments import ex_ltr_rerank

    q = ex_ltr_rerank(spark, "/root/testdata/sf0.001")
    p = plan(q, mode="simple")
    assert "InMemoryRelation" in p or "InMemoryTableScan" in p
    assert _live_parquet_scans(p) == 0, p
    assert q.count() > 0
    spark.catalog.clearCache()  # release the gate-scope cache in tests


def test_nonphrase_scan_prunes_positions(spark, tmp_path):
    """Column pruning reaches the parquet scan: with caching off, a
    disjunction query's segment scan must not read the positions column
    (ReadSchema excludes it), while a phrase query's scan includes it."""
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    d = str(tmp_path / "idx_pos")
    corpus = assign_doc_ids(source_files(spark, 120, seed=31, partitions=2),
                            num_partitions=2)
    build_index(corpus, d, IndexConfig(n_buckets=4, doc_range=128),
                resume=False)
    si = SegmentIndex(spark, d, cache=False)

    def scan_schemas(df) -> list[str]:
        p = plan(df, mode="formatted")
        return [ln for ln in p.splitlines() if "ReadSchema" in ln]

    disj = scan_schemas(si.search(["node", "cursor"], 5))
    seg_scans = [s for s in disj if "docs" in s]
    assert seg_scans and all("positions" not in s for s in seg_scans), disj
    # the phrase path reads through _pos_segments (search_phrase itself
    # returns an eagerly-materialized top-k, so inspect the relation the
    # matcher scans) — there the sidecar IS read
    phr = scan_schemas(
        si._pos_segments().select("doc_part", "term", "positions"))
    assert phr and any("positions" in s for s in phr), phr


def test_function_score_fns_distributed_plan(spark, tmp_path, monkeypatch):
    """The function_score functions-list DISTRIBUTED regime keeps the
    100-TB shape: exactly three parquet scans (postings scoring +
    postings membership + doc_store), the metadata function's range
    predicate PUSHED to the doc_store scan, both membership joins
    broadcast — never a corpus scan."""
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.plans import search as search_mod
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    d = str(tmp_path / "idx_fsf")
    corpus = assign_doc_ids(source_files(spark, 150, seed=41, partitions=2),
                            num_partitions=2)
    build_index(corpus, d, IndexConfig(n_buckets=4, doc_range=128),
                resume=False)
    si = SegmentIndex(spark, d, cache=False)
    monkeypatch.setattr(search_mod, "SEARCH_DRIVER_CAP", -1)
    out = si.search_function_score_fns(
        "node cursor",
        [{"filter": {"range": {"content_len": {"gte": 150}}},
          "weight": 1.5},
         {"filter": {"match": {"content": "shard"}}, "weight": 2.0}],
        10)
    p = plan(out, mode="simple")
    assert p.count("FileScan parquet") == 3, p
    assert "GreaterThanOrEqual(content_len,150)" in p, p
    assert p.count("BroadcastHashJoin") == 2, p
    assert out.count() > 0


def test_composite_agg_single_aggregation(spark, tmp_path):
    """The composite aggregation is ONE hash aggregation + a sorted cut:
    no window, no second shuffle stage beyond the partial/final agg
    exchange, and the corpus-wide form reads the doc store straight."""
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.plans.dsl import es_aggs
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    corpus = assign_doc_ids(source_files(spark, 200, seed=6, partitions=2),
                            num_partitions=2)
    d = str(tmp_path / "idx")
    build_index(corpus, d, IndexConfig(n_buckets=4, doc_range=128),
                meta_cols=("lang",), resume=False)
    si = SegmentIndex(spark, d, cache=False)
    q = es_aggs(si, {"aggs": {"c": {"composite": {
        "size": 5, "after": {"l": "de", "h": 100},
        "sources": [
            {"l": {"terms": {"field": "lang"}}},
            {"h": {"histogram": {"field": "content_len",
                                 "interval": 100}}}]}}}})
    p = plan(q)
    assert p.count("HashAggregate") <= 4   # partial+final (AQE may split)
    assert "Window" not in p               # sorted cut, not a rank window
    # the doc store is scanned once (the second scan is the tombstone
    # sidecar _exclude_dead always consults)
    assert p.count("Scan parquet") <= 2


def test_cross_fields_plan_pruned_scans_no_corpus(spark, tmp_path):
    """cross_fields reads ONLY the two fields' pruned segment scans
    (bucket partition filters + term row-group pushdown) — no doc-store
    or corpus scan, no full-relation join; the combine is ONE grouped
    numpy function (the multi-field family's _dismax) over the unioned
    partials, after each field's per-part emitter."""
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.search import (SegmentIndex,
                                                     search_cross_fields)
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    corpus = assign_doc_ids(source_files(spark, 200, seed=7, partitions=2),
                            num_partitions=2)
    two = corpus.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("content"), " "), 1, 5), " ")
        .alias("title"),
        F.col("content").alias("body"))
    idxs = {}
    for fld in ("title", "body"):
        d = str(tmp_path / fld)
        build_index(two, d, IndexConfig(n_buckets=8, doc_range=128),
                    text_col=fld, resume=False)
        idxs[fld] = SegmentIndex(spark, d, cache=False)
    q = search_cross_fields(idxs, "cache index", 10, tie_breaker=0.3)
    p = plan(q)
    assert "PartitionFilters" in p and "bucket" in p
    assert "In(term" in p                      # term pushdown both scans
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "HashAggregate" not in p
    # a per-part emitter per field holding a query term + the one combine
    live = sum(any(si.term_dfs(["cache", "index"]).values())
               for si in idxs.values())
    assert live and p.count("FlatMapGroupsInPandas (") == live + 1
