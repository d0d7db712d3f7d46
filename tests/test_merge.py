"""Index merge: merged(A, B) must behave exactly like build(A ∪ B) —
including the global-stats shift (avgdl/N/df change scores for EVERY doc,
not just the new ones)."""

from __future__ import annotations

import json
import os

import pytest

from newssearchengine_spark.config import IndexConfig
from newssearchengine_spark.datagen import source_files
from newssearchengine_spark.oracle import pure
from newssearchengine_spark.plans.index_build import build_index
from newssearchengine_spark.plans.merge import merge_indexes
from newssearchengine_spark.plans.search import SegmentIndex
from newssearchengine_spark.sources.corpus import assign_doc_ids

CFG = IndexConfig(n_buckets=8, doc_range=128, block_size=16)


PLACEMENTS = ("driver", "spark")


@pytest.fixture(scope="module")
def merged_setup(spark, tmp_path_factory, placed):
    """Both sides built and merged once per write placement: on the
    driver and on the Spark plans. Maps each placement to its merged
    index directory and merge metrics."""
    root = tmp_path_factory.mktemp("merge")
    corpus = assign_doc_ids(source_files(spark, 900, seed=11, partitions=4),
                            num_partitions=4).persist()
    a = corpus.filter("doc_id < 600")
    b = corpus.filter("doc_id >= 600")
    merged = {}
    for p in PLACEMENTS:
        da, db, dm = (str(root / f"{x}-{p}") for x in ("a", "b", "m"))
        with placed(p):
            build_index(a, da, CFG)
            build_index(b, db, CFG)
            merged[p] = dm, merge_indexes(spark, da, db, dm)
    raw = {r["doc_id"]: r["content"]
           for r in corpus.select("doc_id", "content").collect()}
    return merged, raw


def test_merged_stats(merged_setup):
    merged, raw = merged_setup
    oidx = pure.OracleIndex.build(raw)
    for dm, metrics in merged.values():
        assert metrics["n_docs"] == 900
        with open(os.path.join(dm, "stats.json")) as f:
            stats = json.load(f)
        assert stats["avgdl"] == pytest.approx(oidx.avgdl, rel=1e-12)


@pytest.mark.parametrize("mode", ["taat", "wand"])
def test_merged_search_equals_union_oracle(spark, merged_setup, mode):
    merged, raw = merged_setup
    oidx = pure.OracleIndex.build(raw)
    for dm, _ in merged.values():
        si = SegmentIndex(spark, dm)
        for q in ["getUser listNode hashSort",
                  "mapList cacheIndex shard_chunk",
                  "value_count totalDelta sendRecv"]:
            terms = si.analyze_query(q)
            expected = oidx.search(terms, 25)
            got = si.search(q, 25, mode=mode).collect()
            assert [r["doc_id"] for r in got] == [d for d, _ in expected]
            for r, (_, s) in zip(got, expected):
                assert r["score"] == pytest.approx(s, abs=1e-9)


def test_merge_rejects_overlapping_ids(spark, tmp_path):
    corpus = assign_doc_ids(source_files(spark, 100, seed=3, partitions=2),
                            num_partitions=2)
    d1, d2 = str(tmp_path / "x"), str(tmp_path / "y")
    build_index(corpus, d1, CFG)
    build_index(corpus, d2, CFG)
    with pytest.raises(ValueError, match="overlap"):
        merge_indexes(spark, d1, d2, str(tmp_path / "z"))

def test_incremental_stream_equals_cold_build(spark, tmp_path):
    """Streaming index maintenance (foreachBatch delta-build + merge):
    after consuming all file drops, the live index is score-identical to a
    cold build over the full corpus — N/avgdl/df re-aggregated and
    block-max bounds recomputed at every merge."""
    from newssearchengine_spark.config import IndexConfig
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids
    from newssearchengine_spark.streaming.pipeline import run_incremental_index

    cfg = IndexConfig(n_buckets=4, doc_range=64, block_size=16)
    docs = assign_doc_ids(source_files(spark, 240, seed=7, partitions=3),
                          num_partitions=3)
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    corpus = spark.read.parquet(src)

    live = str(tmp_path / "live_idx")
    cached_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    metrics = run_incremental_index(spark, src, live, cfg,
                                    text_col="content")
    assert metrics["batches"] >= 2          # really incremental
    assert metrics["n_docs"] == 240
    # Long-session hygiene: N stream batches must not accumulate cached
    # relations (each batch persists + unpersists its own delta).
    cached_after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert cached_after <= cached_before, (
        f"incremental index leaked {len(cached_after - cached_before)} "
        "persisted RDDs across stream batches"
    )

    cold = str(tmp_path / "cold_idx")
    build_index(corpus, cold, cfg, text_col="content", resume=False)

    si_live = SegmentIndex(spark, live)
    si_cold = SegmentIndex(spark, cold)
    assert si_live.stats["n_docs"] == si_cold.stats["n_docs"]
    assert si_live.stats["avgdl"] == pytest.approx(si_cold.stats["avgdl"])
    for q in (["getUser", "listNode"], ["mapList", "cacheIndex", "value_count"],
              ["hashSort"]):
        a = si_live.search(q, 25).collect()
        b = si_cold.search(q, 25).collect()
        assert [(r["doc_id"],) for r in a] == [(r["doc_id"],) for r in b]
        for x, y in zip(a, b):
            assert x["score"] == pytest.approx(y["score"], abs=1e-9)


def test_merged_phrase_search_equals_cold_build(spark, merged_setup, tmp_path):
    """Positional sidecars survive the merge re-encode: phrase results over
    merged(A, B) equal phrase results over a cold build of A ∪ B."""
    merged, raw = merged_setup
    corpus = assign_doc_ids(source_files(spark, 900, seed=11, partitions=4),
                            num_partitions=4)
    cold = str(tmp_path / "cold_for_phrase")
    build_index(corpus, cold, CFG, resume=False)
    si_c = SegmentIndex(spark, cold)
    for dm, _ in merged.values():
        si_m = SegmentIndex(spark, dm)
        for phrase in (["node", "cursor"], ["shard", "group"],
                       ["close", "node"]):
            a = si_m.search_phrase(phrase, 25).collect()
            b = si_c.search_phrase(phrase, 25).collect()
            assert [(r["doc_id"], r["score"]) for r in a] == \
                   [(r["doc_id"], r["score"]) for r in b]
            assert a, f"fixture phrase {phrase} should match some docs"


def test_merged_term_vectors_serves_forward_index(spark, tmp_path, placed):
    """ADVICE fix: merging two with_term_vectors indexes must carry the
    forward index through — term_vectors()/keywords_tf_idf() on the merged
    index must work and match a cold build over the union corpus. Also:
    merging a with_term_vectors index with a without one must be rejected
    (stats flag mismatch), not silently produce a broken index. Checked
    in both write placements."""
    cfg = IndexConfig(n_buckets=4, doc_range=64, block_size=16,
                      with_term_vectors=True)
    cfg_no = IndexConfig(n_buckets=4, doc_range=64, block_size=16,
                         with_term_vectors=False)
    corpus = assign_doc_ids(source_files(spark, 300, seed=23, partitions=2),
                            num_partitions=2).persist()
    a = corpus.filter("doc_id < 200")
    b = corpus.filter("doc_id >= 200")
    for p in PLACEMENTS:
        da, db, dm, dc, dn, dx = (str(tmp_path / f"{x}-{p}") for x in
                                  ("a", "b", "m", "cold", "n", "x"))
        with placed(p):
            build_index(a, da, cfg)
            build_index(b, db, cfg)
            merge_indexes(spark, da, db, dm)
            build_index(corpus, dc, cfg)

            sm, sc = SegmentIndex(spark, dm), SegmentIndex(spark, dc)
            ids = [5, 150, 250]
            tv_m = sorted(map(tuple, sm.term_vectors(ids).collect()))
            tv_c = sorted(map(tuple, sc.term_vectors(ids).collect()))
            assert tv_m == tv_c and len(tv_m) > 0

            kw_m = sorted(map(tuple, sm.keywords_tf_idf(
                ids, min_tf=1, min_df=1, top_n=5).collect()))
            kw_c = sorted(map(tuple, sc.keywords_tf_idf(
                ids, min_tf=1, min_df=1, top_n=5).collect()))
            assert kw_m == kw_c and len(kw_m) > 0

            build_index(b, dn, cfg_no)
            with pytest.raises(ValueError, match="with_term_vectors"):
                merge_indexes(spark, da, dn, dx)
    corpus.unpersist()


def test_merge_rejects_analyzer_mode_mismatch(spark, tmp_path):
    """A news-mode (Porter) index must not merge into a code-mode one
    that shares its stoplist and min_token_len: the merged index would
    analyze queries one side's way, leaving the other side's terms
    unreachable. An index whose stats.json predates analyzer_mode
    counts as code mode."""
    from newssearchengine_spark.config import AnalyzerConfig

    corpus = assign_doc_ids(source_files(spark, 60, seed=5, partitions=2),
                            num_partitions=2).persist()
    a, b = corpus.filter("doc_id < 40"), corpus.filter("doc_id >= 40")
    code = IndexConfig(n_buckets=4, doc_range=64, block_size=16)
    news = IndexConfig(n_buckets=4, doc_range=64, block_size=16,
                       analyzer=AnalyzerConfig(mode="news"))
    dc, dn, dold = (str(tmp_path / x) for x in ("code", "news", "old"))
    build_index(a, dc, code)
    build_index(b, dn, news)
    with pytest.raises(ValueError, match="analyzer_mode"):
        merge_indexes(spark, dc, dn, str(tmp_path / "x"))

    build_index(b, dold, code)
    with open(os.path.join(dold, "stats.json")) as f:
        stats = json.load(f)
    del stats["analyzer_mode"]
    with open(os.path.join(dold, "stats.json"), "w") as f:
        json.dump(stats, f)
    assert merge_indexes(spark, dc, dold, str(tmp_path / "y"))["n_docs"] == 60
    with pytest.raises(ValueError, match="analyzer_mode"):
        merge_indexes(spark, dold, dn, str(tmp_path / "z"))
    corpus.unpersist()
