"""Deletes (plans.delete): tombstone exclusion with Lucene frozen-stats
semantics, and compaction equal to a from-scratch build over the live
corpus (rank AND score identical, stats/df recomputed)."""

from __future__ import annotations

import json
import os

import pytest

from newssearchengine_spark.config import IndexConfig
from newssearchengine_spark.datagen import source_files
from newssearchengine_spark.oracle import pure
from newssearchengine_spark.plans.delete import compact_index, delete_docs
from newssearchengine_spark.plans.index_build import build_index
from newssearchengine_spark.plans.merge import merge_indexes
from newssearchengine_spark.plans.search import SegmentIndex, search_dismax
from newssearchengine_spark.sources.corpus import assign_doc_ids

CFG = IndexConfig(n_buckets=8, doc_range=128, block_size=16,
                  with_term_vectors=True)
QUERY = "getUser listNode hashSort value"
PHRASE = ["node", "cursor"]


@pytest.fixture(scope="module")
def del_setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("delete")
    corpus = assign_doc_ids(source_files(spark, 700, seed=23, partitions=4),
                            num_partitions=4).persist()
    idx = str(root / "idx")
    build_index(corpus, idx, CFG)
    si = SegmentIndex(spark, idx, cache=False)
    # delete ids that actually rank: the top-5 hits of the query plus a
    # few spread ids — exclusion must visibly reshape the top-k
    top = [r["doc_id"] for r in si.search(QUERY, 5).collect()]
    dead = sorted(set(top + [3, 250, 251, 400, 699]))
    n = delete_docs(spark, idx, dead)
    assert n == len(dead)
    raw = {r["doc_id"]: r["content"]
           for r in corpus.select("doc_id", "content").collect()}
    return spark, corpus, idx, si, dead, raw, str(root)


def _filtered(rows, dead, k):
    live = [(r["doc_id"], r["score"]) for r in rows
            if r["doc_id"] not in set(dead)]
    return live[:k]


def test_search_excludes_dead_scores_frozen(del_setup):
    spark, corpus, idx, si, dead, raw, _ = del_setup
    # frozen-stats oracle: full-corpus BM25 ranking, dead dropped, cut
    oidx = pure.OracleIndex.build(raw)
    expected = [(d, s) for d, s in oidx.search(si.analyze_query(QUERY),
                                               len(raw))
                if d not in set(dead)][:20]
    got = si.search(QUERY, 20).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, abs=1e-9)
    assert [r["rank"] for r in got] == list(range(len(got)))


@pytest.mark.parametrize("mode", ["taat", "wand"])
def test_wrapper_equals_postfiltered_raw(del_setup, mode):
    spark, corpus, idx, si, dead, raw, _ = del_setup
    rows_raw = si.search(QUERY, 700, mode=mode, _raw=True).collect()
    expected = _filtered(rows_raw, dead, 15)
    got = si.search(QUERY, 15, mode=mode).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == expected


def test_bool_phrase_mixed_many_exclude(del_setup):
    spark, corpus, idx, si, dead, raw, _ = del_setup
    deadset = set(dead)
    b = si.search_bool(must=["hash"], should=["value", "index"],
                       k=25).collect()
    assert b and not {r["doc_id"] for r in b} & deadset
    b_raw = si.search_bool(must=["hash"], should=["value", "index"],
                           k=700, _raw=True).collect()
    assert [(r["doc_id"], r["score"]) for r in b] == \
        _filtered(b_raw, dead, 25)

    p = si.search_phrase(PHRASE, 25).collect()
    p_raw = si.search_phrase(PHRASE, 700, _raw=True).collect()
    assert [(r["doc_id"], r["score"]) for r in p] == \
        _filtered(p_raw, dead, 25)

    m = si.search_mixed([[["hash"], ["value"]], [["index"]]],
                        15).collect()
    m_raw = si.search_mixed([[["hash"], ["value"]], [["index"]]],
                            700, _raw=True).collect()
    assert [(r["doc_id"], r["score"]) for r in m] == \
        _filtered(m_raw, dead, 15)

    many = si.search_many({"a": QUERY, "b": "index shard"}, 10).collect()
    assert many and not {r["doc_id"] for r in many} & deadset
    for qid in ("a", "b"):
        sub = sorted((r for r in many if r["query_id"] == qid),
                     key=lambda r: r["rank"])
        one = si.search(
            {"a": QUERY, "b": "index shard"}[qid], 10).collect()
        assert [(r["rank"], r["doc_id"], r["score"]) for r in sub] == \
            [(r["rank"], r["doc_id"], r["score"]) for r in one]


def test_get_docs_404_and_idempotence(del_setup):
    spark, corpus, idx, si, dead, raw, _ = del_setup
    hit = si.get_docs([dead[0], 5]).collect()
    assert [r["doc_id"] for r in hit] == [5]
    # re-delete + delete an id the index never held: distinct count grows
    # only by the new id, results unchanged
    before = si.search(QUERY, 10).collect()
    n = delete_docs(spark, idx, [dead[0], 10 ** 9])
    assert n == len(dead) + 1
    after = si.search(QUERY, 10).collect()
    assert [(r["doc_id"], r["score"]) for r in before] == \
        [(r["doc_id"], r["score"]) for r in after]


def test_id_delete_counts_without_spark_job(spark, tmp_path):
    """An id-list delete on a small index counts its distinct tombstones
    with a driver read of the sidecar — no Spark job — and returns what
    the Spark count of that sidecar returns."""
    import time

    from newssearchengine_spark.plans.delete import tombstone_dir

    docs = assign_doc_ids(source_files(spark, 80, seed=13, partitions=2),
                          num_partitions=2)
    d = str(tmp_path / "idx")
    build_index(docs, d, IndexConfig(n_buckets=4, doc_range=64,
                                     block_size=16))
    sc = spark.sparkContext
    counts = []
    for i, ids in enumerate(([3, 3, 9, 10 ** 9], [9, 11])):
        group = f"id-delete-{i}"
        sc.setJobGroup(group, group)
        try:
            counts.append(delete_docs(spark, d, ids))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(1.0)  # let the listener bus deliver any job start
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert counts[-1] == spark.read.parquet(tombstone_dir(d)).select(
            "doc_id").distinct().count()
    assert counts == [3, 4]


def test_compact_equals_fresh_build(del_setup, placed):
    """Compaction equals a fresh build over the live corpus, in both
    write placements."""
    for placement in ("driver", "spark"):
        with placed(placement):
            _check_compact_equals_fresh_build(del_setup, placement)


def _check_compact_equals_fresh_build(del_setup, placement):
    spark, corpus, idx, si, dead, raw, root = del_setup
    compacted = os.path.join(root, f"compacted-{placement}")
    metrics = compact_index(spark, idx, compacted)
    # idempotence test may have added an unknown id — read the live count
    assert metrics["n_deleted"] == si.n_deleted()
    assert metrics["n_deleted"] >= len(dead)

    fresh_dir = os.path.join(root, f"fresh-{placement}")
    live = corpus.filter(~corpus.doc_id.isin([int(d) for d in dead]))
    build_index(live, fresh_dir, CFG)

    sc = SegmentIndex(spark, compacted, cache=False)
    sf = SegmentIndex(spark, fresh_dir, cache=False)
    assert sc.stats["n_docs"] == sf.stats["n_docs"] == 700 - len(dead)
    assert sc.stats["avgdl"] == pytest.approx(sf.stats["avgdl"], rel=1e-12)
    assert sc.stats["total_tokens"] == sf.stats["total_tokens"]
    assert sc.n_deleted() == 0

    terms = sc.analyze_query(QUERY)
    assert sc.term_dfs(terms) == sf.term_dfs(terms)

    for mode in ("taat", "wand"):
        a = sc.search(QUERY, 25, mode=mode).collect()
        b = sf.search(QUERY, 25, mode=mode).collect()
        assert [(r["rank"], r["doc_id"], r["score"]) for r in a] == \
            [(r["rank"], r["doc_id"], r["score"]) for r in b]
    pa = sc.search_phrase(PHRASE, 25).collect()
    pb = sf.search_phrase(PHRASE, 25).collect()
    assert [(r["doc_id"], r["score"]) for r in pa] == \
        [(r["doc_id"], r["score"]) for r in pb]

    # term vectors rewrote without the dead docs
    tva = sc.term_vectors([dead[0], 5]).collect()
    assert {r["doc_id"] for r in tva} == {5}

    # sha256 per-row invariant holds through compaction
    sha_c = {r["doc_id"]: r["sha256"] for r in sc.doc_store().collect()}
    sha_f = {r["doc_id"]: r["sha256"] for r in sf.doc_store().collect()}
    assert sha_c == sha_f

    # manifests carry the compaction fingerprint
    with open(os.path.join(compacted, "manifest",
                           "bucket_00000.json")) as f:
        m = json.load(f)
    assert m["status"] == "complete" and "compact:" in m["input_fingerprint"]


def test_dismax_excludes_dead(spark, del_setup):
    _, corpus, idx, si, dead, raw, _ = del_setup
    out = search_dismax({"content": si}, QUERY, 15).collect()
    assert out and not {r["doc_id"] for r in out} & set(dead)
    raw_rows = search_dismax({"content": si}, QUERY, 700,
                             _raw=True).collect()
    # raw dismax keeps internal per-field pools live-filtered, so compare
    # against the post-filtered raw ranking like the other paths
    assert [(r["doc_id"], r["score"]) for r in out] == \
        _filtered(raw_rows, dead, 15)


def test_merge_carries_tombstones(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("del_merge")
    corpus = assign_doc_ids(source_files(spark, 300, seed=7, partitions=2),
                            num_partitions=2).persist()
    a = corpus.filter("doc_id < 200")
    b = corpus.filter("doc_id >= 200")
    da, db, dm = str(root / "a"), str(root / "b"), str(root / "m")
    cfg = IndexConfig(n_buckets=4, doc_range=64, block_size=16)
    build_index(a, da, cfg)
    build_index(b, db, cfg)
    sia = SegmentIndex(spark, da, cache=False)
    top = [r["doc_id"] for r in sia.search("hash value", 3).collect()]
    delete_docs(spark, da, top)
    merge_indexes(spark, da, db, dm)
    sim = SegmentIndex(spark, dm, cache=False)
    assert sim.n_deleted() == len(set(top))
    got = {r["doc_id"] for r in sim.search("hash value", 50).collect()}
    assert not got & set(top)
    corpus.unpersist()


def test_delete_by_query(spark, tmp_path):
    """ES _delete_by_query: lookup bodies tombstone their whole match
    set; ranked bodies need max_docs."""
    from newssearchengine_spark.plans.delete import delete_by_query

    docs = assign_doc_ids(source_files(spark, 120, seed=31, partitions=2),
                          num_partitions=2)
    d = str(tmp_path / "idx")
    cfg = IndexConfig(n_buckets=4, doc_range=64, block_size=16)
    build_index(docs, d, cfg, meta_cols=("lang",), resume=False)
    si = SegmentIndex(spark, d, cache=False)
    doomed = {r["doc_id"] for r in
              si.doc_store().filter("lang = 'py'").collect()}
    assert doomed
    n = delete_by_query(si, {"range": {"doc_id": {"gte": 115}}})
    n2 = delete_by_query(si, {"terms": {"lang": ["py"]}})
    assert n2 == len(doomed | set(range(115, 120)))
    got = {r["doc_id"] for r in si.search("node value hash", 200).collect()}
    assert not got & doomed and not got & set(range(115, 120))
    with pytest.raises(ValueError, match="max_docs"):
        delete_by_query(si, {"match": {"content": "node"}})
    top2 = [r["doc_id"] for r in si.search("node", 2).collect()]
    delete_by_query(si, {"match": {"content": "node"}}, max_docs=2)
    left = {r["doc_id"] for r in si.search("node", 200).collect()}
    assert not left & set(top2)
