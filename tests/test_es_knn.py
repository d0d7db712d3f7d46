"""ES dense-vector search through the DSL adapter.

Covers the two bodies an ES vector-search user issues (the reference
runs its vector path OUTSIDE ES via hnswlib — pyw_hnswlib.py:61-69 —
but an ES-8 migration of that flow is exactly these shapes):

- top-level `knn` section (ES 8): exact global top-k at the ES cosine
  dense_vector score (1 + cos) / 2, optional `filter`, optional hybrid
  combination with a `query` section (scores summed over the union)
- `script_score` + cosineSimilarity (the ES 7 exact form): cos + const
  over the inner query's complete match set

Oracles here are driver-side numpy recomputations on the same float32
vectors (the gate adds the DuckDB list_cosine_similarity oracle).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from newssearchengine_spark.config import IndexConfig
from newssearchengine_spark.datagen import source_files
from newssearchengine_spark.plans.dsl import es_msearch, es_search
from newssearchengine_spark.plans.index_build import build_index
from newssearchengine_spark.plans.search import SegmentIndex
from newssearchengine_spark.sources.corpus import assign_doc_ids

N_DOCS = 120
DIM = 8
CFG = IndexConfig(n_buckets=8, doc_range=64, block_size=16)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("esknn")
    docs = assign_doc_ids(source_files(spark, N_DOCS, seed=33, partitions=4),
                          num_partitions=4).withColumn(
        "text", F.col("content"))
    d = str(root / "idx")
    build_index(docs, d, CFG, text_col="text",
                meta_cols=("repo", "lang"), resume=False)
    si = SegmentIndex(spark, d)
    rng = np.random.default_rng(7)
    V32 = rng.normal(size=(N_DOCS, DIM)).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in V32[i]]) for i in range(N_DOCS)],
        "doc_id bigint, embedding array<float>")
    meta = {r["doc_id"]: (r["repo"], r["lang"])
            for r in docs.select("doc_id", "repo", "lang").collect()}
    return si, vecs, V32.astype(np.float64), meta



def _r6(x: float) -> float:
    """Decimal HALF_UP at 6 dp — matches Spark's F.round on doubles
    (python round() is HALF_EVEN and diverges on .5 boundaries)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(
        Decimal("0.000001"), rounding=ROUND_HALF_UP))

def _np_knn_scores(V: np.ndarray, qv: np.ndarray,
                   ids=None) -> list[tuple[int, float]]:
    """(doc_id, round6((1+cos)/2)) for every doc (or the given ids)."""
    ids = list(range(len(V))) if ids is None else sorted(ids)
    out = []
    for i in ids:
        c = float(V[i] @ qv) / (float(np.linalg.norm(V[i]))
                                * float(np.linalg.norm(qv)))
        out.append((i, _r6((1.0 + c) / 2.0)))
    return out


def _np_topk(pairs, k):
    return sorted(pairs, key=lambda t: (-t[1], t[0]))[:k]


def test_knn_only_exact(corpus):
    si, vecs, V, _ = corpus
    qv = V[0]
    body = {"knn": {"field": "embedding",
                    "query_vector": [float(x) for x in qv],
                    "k": 10, "num_candidates": 50}}
    got = [(r["doc_id"], r["score"])
           for r in es_search(si, body, size=10, vectors=vecs).collect()]
    want = _np_topk(_np_knn_scores(V, qv), 10)
    assert got == want
    # rank column is 0..9 in order
    ranks = [r["rank"]
             for r in es_search(si, body, size=10, vectors=vecs).collect()]
    assert ranks == list(range(10))


def test_knn_size_cuts_below_k(corpus):
    si, vecs, V, _ = corpus
    body = {"knn": {"field": "embedding",
                    "query_vector": [float(x) for x in V[3]], "k": 10}}
    got = es_search(si, body, size=4, vectors=vecs).collect()
    assert len(got) == 4
    full = es_search(si, body, size=10, vectors=vecs).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in full[:4]]


def test_knn_filter_restricts_candidates(corpus):
    si, vecs, V, meta = corpus
    repo = meta[0][0]
    keep = [i for i, (r, _) in meta.items() if r == repo]
    assert 0 < len(keep) < N_DOCS
    qv = V[1]
    body = {"knn": {"field": "embedding",
                    "query_vector": [float(x) for x in qv],
                    "k": 5, "filter": {"term": {"repo": repo}}}}
    got = [(r["doc_id"], r["score"])
           for r in es_search(si, body, size=5, vectors=vecs).collect()]
    want = _np_topk(_np_knn_scores(V, qv, ids=keep), 5)
    assert got == want


def test_knn_match_filter_uses_postings(corpus):
    si, vecs, V, _ = corpus
    from newssearchengine_spark.plans.dsl import _query_match_set

    keep = sorted(r["doc_id"] for r in _query_match_set(
        si, {"match": {"text": "nodeCursor shardGroup"}}).collect())
    assert keep
    qv = V[2]
    body = {"knn": {"field": "embedding",
                    "query_vector": [float(x) for x in qv], "k": 5,
                    "filter": {"match": {"text": "nodeCursor shardGroup"}}}}
    got = [(r["doc_id"], r["score"])
           for r in es_search(si, body, size=5, vectors=vecs).collect()]
    want = _np_topk(_np_knn_scores(V, qv, ids=keep), min(5, len(keep)))
    assert got == want


def test_hybrid_sums_over_union(corpus):
    si, vecs, V, _ = corpus
    qv = V[5]
    text = "nodeCursor shardGroup streamSort"
    body = {"query": {"match": {"text": text}},
            "knn": {"field": "embedding",
                    "query_vector": [float(x) for x in qv],
                    "k": 8, "boost": 0.5}}
    got = [(r["doc_id"], r["score"])
           for r in es_search(si, body, size=15, vectors=vecs).collect()]
    qscores = {r["doc_id"]: _r6(r["score"])
               for r in si.score_all(text).collect()}
    kside = dict(_np_topk(_np_knn_scores(V, qv), 8))
    comb = {d: _r6(qscores.get(d, 0.0) + 0.5 * kside.get(d, 0.0))
            for d in set(qscores) | set(kside)}
    want = sorted(comb.items(), key=lambda t: (-t[1], t[0]))[:15]
    assert got == want
    # a doc in BOTH sides carries the sum, not either component
    both = set(qscores) & set(kside)
    if both:
        d = next(iter(both))
        in_hits = dict(got)
        if d in in_hits:
            assert in_hits[d] == _r6(qscores[d] + 0.5 * kside[d])


def test_knn_sections_list(corpus):
    si, vecs, V, _ = corpus
    b1 = {"field": "embedding", "query_vector": [float(x) for x in V[4]],
          "k": 6}
    b2 = {"field": "embedding", "query_vector": [float(x) for x in V[9]],
          "k": 6, "boost": 2.0}
    got = [(r["doc_id"], r["score"])
           for r in es_search(si, {"knn": [b1, b2]}, size=10,
                              vectors=vecs).collect()]
    s1 = dict(_np_topk(_np_knn_scores(V, V[4]), 6))
    s2 = {d: 2.0 * s for d, s in _np_topk(_np_knn_scores(V, V[9]), 6)}
    comb = {d: _r6(s1.get(d, 0.0) + s2.get(d, 0.0))
            for d in set(s1) | set(s2)}
    want = sorted(comb.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert got == want


def test_knn_pagination(corpus):
    si, vecs, V, _ = corpus
    body = {"knn": {"field": "embedding",
                    "query_vector": [float(x) for x in V[7]], "k": 10}}
    full = es_search(si, body, size=10, vectors=vecs).collect()
    page = es_search(si, {**body, "from": 4}, size=3,
                     vectors=vecs).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in page] == \
        [(i, full[4 + i]["doc_id"], full[4 + i]["score"])
         for i in range(3)]


def test_script_score_cosine(corpus):
    si, vecs, V, _ = corpus
    from newssearchengine_spark.plans.dsl import _query_match_set

    text = "nodeCursor shardGroup"
    keep = sorted(r["doc_id"] for r in _query_match_set(
        si, {"match": {"text": text}}).collect())
    qv = V[6]
    body = {"query": {"script_score": {
        "query": {"match": {"text": text}},
        "script": {
            "source": "cosineSimilarity(params.query_vector, "
                      "'embedding') + 1.0",
            "params": {"query_vector": [float(x) for x in qv]}}}}}
    got = [(r["doc_id"], r["score"])
           for r in es_search(si, body, size=10, vectors=vecs).collect()]
    pairs = []
    for i in keep:
        c = float(V[i] @ qv) / (float(np.linalg.norm(V[i]))
                                * float(np.linalg.norm(qv)))
        pairs.append((i, _r6(c + 1.0)))
    want = sorted(pairs, key=lambda t: (-t[1], t[0]))[:10]
    assert got == want


def test_script_score_match_all_scope(corpus):
    si, vecs, V, _ = corpus
    qv = V[8]
    body = {"script_score": {
        "query": {"match_all": {}},
        "script": {"source": "cosineSimilarity(params.qv, 'embedding')",
                   "params": {"qv": [float(x) for x in qv]}}}}
    got = [(r["doc_id"], r["score"])
           for r in es_search(si, body, size=5, vectors=vecs).collect()]
    pairs = [(i, round(s * 2.0 - 1.0, 6))
             for i, s in _np_knn_scores(V, qv)]
    # recompute directly (avoid double rounding): raw cos rounded 6
    pairs = []
    for i in range(N_DOCS):
        c = float(V[i] @ qv) / (float(np.linalg.norm(V[i]))
                                * float(np.linalg.norm(qv)))
        pairs.append((i, _r6(c)))
    want = sorted(pairs, key=lambda t: (-t[1], t[0]))[:5]
    assert got == want


def test_msearch_knn_body_matches_es_search(corpus):
    si, vecs, V, _ = corpus
    knn_body = {"knn": {"field": "embedding",
                        "query_vector": [float(x) for x in V[11]],
                        "k": 5}}
    text_body = {"query": {"match": {"text": "nodeCursor"}}}
    out = es_msearch(si, [text_body, knn_body], size=5,
                     vectors=vecs).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    solo = [(r["rank"], r["doc_id"], r["score"])
            for r in es_search(si, knn_body, size=5,
                               vectors=vecs).collect()]
    assert sorted(by_q["1"]) == sorted(solo)
    assert by_q["0"]  # the text body still batches


def test_errors(corpus):
    si, vecs, V, _ = corpus
    with pytest.raises(ValueError, match="vectors="):
        es_search(si, {"knn": {"field": "embedding",
                               "query_vector": [1.0] * DIM, "k": 3}},
                  size=3)
    with pytest.raises(ValueError, match="script_score"):
        es_search(si, {"script_score": {
            "query": {"match_all": {}},
            "script": {"source": "doc['rank'].value * 2",
                       "params": {}}}}, size=3, vectors=vecs)
    with pytest.raises(ValueError, match="params missing"):
        es_search(si, {"script_score": {
            "query": {"match_all": {}},
            "script": {"source": "cosineSimilarity(params.qv, "
                                 "'embedding') + 1.0",
                       "params": {}}}}, size=3, vectors=vecs)


@pytest.fixture(scope="module")
def graph(corpus):
    from newssearchengine_spark.operators.hnsw import hnsw_build

    si, vecs, V, _ = corpus
    return hnsw_build(vecs.select(F.col("doc_id").alias("vec_id"),
                                  "embedding"),
                      n_shards=2, m=8, ef_construction=64).persist()


def test_knn_ann_full_beam_equals_exact(corpus, graph):
    """ef >= n: the beam reaches every connected node, so the ANN route
    returns the exact answer with identical scores."""
    si, vecs, V, _ = corpus
    body = {"knn": {"field": "embedding",
                    "query_vector": [float(x) for x in V[12]],
                    "k": 10, "num_candidates": 2 * N_DOCS}}
    exact = [(r["doc_id"], r["score"])
             for r in es_search(si, body, size=10, vectors=vecs).collect()]
    approx = [(r["doc_id"], r["score"])
              for r in es_search(si, body, size=10, vectors=vecs,
                                 ann=graph).collect()]
    assert approx == exact


def test_knn_ann_narrow_beam_scores_exactly(corpus, graph):
    """A narrow beam may lose recall but NEVER drifts scores: every
    returned hit carries the same (1+cos)/2 score as the exact path."""
    si, vecs, V, _ = corpus
    body = {"knn": {"field": "embedding",
                    "query_vector": [float(x) for x in V[13]],
                    "k": 10, "num_candidates": 10}}
    exact = dict(_np_knn_scores(V, V[13]))
    approx = es_search(si, body, size=10, vectors=vecs,
                       ann=graph).collect()
    assert approx
    for r in approx:
        assert r["score"] == exact[r["doc_id"]]


def test_knn_ann_filtered_section_stays_exact(corpus, graph):
    """A filtered knn section ignores ann (post-filtering a beam would
    under-return; ES filters DURING the graph walk) — result equals the
    exact filtered answer."""
    si, vecs, V, meta = corpus
    repo = meta[0][0]
    keep = [i for i, (r, _) in meta.items() if r == repo]
    body = {"knn": {"field": "embedding",
                    "query_vector": [float(x) for x in V[1]],
                    "k": 5, "num_candidates": 5,
                    "filter": {"term": {"repo": repo}}}}
    got = [(r["doc_id"], r["score"])
           for r in es_search(si, body, size=5, vectors=vecs,
                              ann=graph).collect()]
    want = _np_topk(_np_knn_scores(V, V[1], ids=keep), 5)
    assert got == want


# ---- driver regime: graph + vectors decoded once on the driver ---------

@pytest.fixture(scope="module")
def served(spark, corpus):
    """The same vectors as `vecs`, but served from Spark's cache (the
    driver regime's precondition), with an HNSW graph over them."""
    from newssearchengine_spark.operators.hnsw import hnsw_build

    _, _, V, _ = corpus
    vecs_p = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(N_DOCS)],
        "doc_id bigint, embedding array<float>").persist()
    graph_p = hnsw_build(vecs_p.select(F.col("doc_id").alias("vec_id"),
                                       "embedding"),
                         n_shards=2, m=8, ef_construction=64).persist()
    return vecs_p, graph_p


@pytest.fixture(scope="module")
def tombstoned(spark, corpus, tmp_path_factory):
    """A copy of the index with some top knn and text hits deleted
    (tombstones only, not compacted)."""
    import shutil

    from newssearchengine_spark.plans.delete import delete_docs

    si, _, V, _ = corpus
    d = str(tmp_path_factory.mktemp("esknn_tomb") / "idx")
    shutil.copytree(si.index_dir, d)
    dead = [d_ for d_, _ in _np_topk(_np_knn_scores(V, V[0]), 6)][::2]
    dead += [r["doc_id"] for r in SegmentIndex(spark, d, cache=False)
             .search(HYBRID_TEXT, 6).collect()][::2]
    delete_docs(spark, d, sorted(set(dead)))
    return SegmentIndex(spark, d)


HYBRID_TEXT = "nodeCursor shardGroup streamSort"


def _regime_bodies(V) -> list[tuple[dict, bool]]:
    """(body, uses ann) — the shapes the driver regime serves."""
    def qv(i):
        return [float(x) for x in V[i]]

    return [
        ({"knn": {"field": "embedding", "query_vector": qv(0), "k": 10}},
         False),
        ({"knn": {"field": "embedding", "query_vector": qv(13), "k": 10,
                  "num_candidates": 10}}, True),
        ({"knn": {"field": "embedding", "query_vector": qv(12), "k": 10,
                  "num_candidates": 2 * N_DOCS}}, True),
        ({"query": {"match": {"text": HYBRID_TEXT}},
          "knn": {"field": "embedding", "query_vector": qv(5), "k": 8,
                  "num_candidates": 10, "boost": 0.5}}, True),
        ({"query": {"match": {"text": HYBRID_TEXT}},
          "knn": {"field": "embedding", "query_vector": qv(0), "k": 8}},
         False),
        ({"knn": [{"field": "embedding", "query_vector": qv(4), "k": 6},
                  {"field": "embedding", "query_vector": qv(9), "k": 6,
                   "boost": 2.0}]}, False),
        ({"knn": {"field": "embedding", "query_vector": qv(7), "k": 10},
          "from": 4}, False),
    ]


def _hits(si, body, vecs, graph):
    return [tuple(r) for r in es_search(si, body, size=10, vectors=vecs,
                                        ann=graph).collect()]


def test_knn_driver_and_distributed_regimes_identical(
        corpus, served, tombstoned, monkeypatch):
    """A knn body over cache-served vectors (and graph) runs on the
    driver with the same beams and bit-identical folds, so its hits must
    equal the distributed plan's, forced by zeroing DRIVER_ELEMS_CAP —
    on a clean index and on a tombstoned copy. The list-built `vecs` is
    not cache-served and stays distributed."""
    import newssearchengine_spark.operators.similarity as S
    from newssearchengine_spark.operators.hnsw import driver_graph

    si, vecs, V, _ = corpus
    vecs_p, graph_p = served
    assert S.driver_vectors(vecs, "doc_id", "embedding") is None
    for idx in (si, tombstoned):
        for body, ann in _regime_bodies(V):
            g = graph_p if ann else None
            drv = _hits(idx, body, vecs_p, g)
            assert S.driver_vectors(vecs_p, "doc_id", "embedding")
            assert not ann or driver_graph(graph_p)
            with monkeypatch.context() as m:
                m.setattr(S, "DRIVER_ELEMS_CAP", -1)
                assert S.driver_vectors(vecs_p, "doc_id", "embedding") is None
                dist = _hits(idx, body, vecs_p, g)
            assert drv and drv == dist, body
            if not ann:
                assert drv == _hits(idx, body, vecs, None), body
    dead = set(tombstoned._tombstones()[1].tolist())
    for body, ann in _regime_bodies(V):
        got = _hits(tombstoned, body, vecs_p, graph_p if ann else None)
        assert not dead & {d for _, d, _ in got}


def test_knn_driver_regime_runs_no_spark_job(spark, corpus, served,
                                             tombstoned):
    """On a warm memo, knn-only, ann, hybrid, multi-section and paged
    bodies answer without launching a Spark job, with or without
    tombstones: the graph and vectors are decoded on the driver, the
    text side is score_all's driver regime and the cut is a local
    frame."""
    import time

    si, _, V, _ = corpus
    vecs_p, graph_p = served
    sc = spark.sparkContext
    for i, idx in enumerate((si, tombstoned)):
        bodies = [(b, graph_p if ann else None)
                  for b, ann in _regime_bodies(V)]
        for body, g in bodies:  # first touch: decode + warm
            _hits(idx, body, vecs_p, g)
        group = f"knn-driver-regime-{i}"
        sc.setJobGroup(group, group)
        try:
            for body, g in bodies:
                assert _hits(idx, body, vecs_p, g)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(1.0)  # let the listener bus deliver any job start
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("rows", [
    [(0, [1.0, 2.0]), (1, [0.0, 0.0])],             # zero-norm vector
    [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],        # ragged dims
    [(0, [1.0, 2.0]), (0, [2.0, 1.0])],             # duplicate id
    [(0, [1.0, 2.0]), (1, None)],                   # null vector
    [(0, [1.0, 2.0]), (None, [2.0, 1.0])],          # null id
    [(0, [1.0, 2.0]), (1, [float("nan"), 1.0])],    # non-finite element
])
def test_driver_vectors_refuses_frames_it_cannot_mirror(spark, rows):
    """A cache-served vectors frame whose rows the driver regime would
    score differently from the Catalyst plan stays distributed."""
    import newssearchengine_spark.operators.similarity as S

    df = spark.createDataFrame(
        rows, "doc_id bigint, embedding array<double>").persist()
    assert S.driver_vectors(df, "doc_id", "embedding") is None
    ok = spark.createDataFrame(
        rows[:1], "doc_id bigint, embedding array<double>").persist()
    assert S.driver_vectors(ok, "doc_id", "embedding") is not None


@pytest.mark.parametrize("regime", ["driver", "distributed"])
def test_knn_zero_magnitude_query_vector_is_rejected(corpus, served,
                                                     regime):
    """ES answers 400 to an all-zero cosine query vector; the engine
    raises ValueError before any plan (it used to fail a task with
    DIVIDE_BY_ZERO)."""
    si, vecs, _, _ = corpus
    v = served[0] if regime == "driver" else vecs
    body = {"knn": {"field": "embedding", "query_vector": [0.0] * DIM,
                    "k": 3}}
    with pytest.raises(ValueError, match="zero magnitude"):
        es_search(si, body, size=3, vectors=v).collect()


@pytest.mark.parametrize("dim", [4, 12])
def test_knn_query_vector_dimension_mismatch_is_rejected(corpus, served,
                                                         dim):
    """ES answers 400 to a query vector whose dimension differs from the
    field's; the engine used to return k hits with null scores. The
    driver regime raises ValueError from the memo's dim; the distributed
    plan fails with the same reason."""
    import re

    si, vecs, _, _ = corpus
    reason = re.escape(
        f"The query vector has a different number of dimensions [{dim}] "
        f"than the document vectors [{DIM}]")
    body = {"knn": {"field": "embedding", "query_vector": [1.0] * dim,
                    "k": 3}}
    with pytest.raises(ValueError, match=reason):
        es_search(si, body, size=3, vectors=served[0]).collect()
    with pytest.raises(Exception, match=reason):
        es_search(si, body, size=3, vectors=vecs).collect()


def test_knn_memo_decodes_once_under_threads(corpus, served, monkeypatch):
    """8 threads send their first knn request on a fresh memo at once:
    the graph and the vectors are each decoded exactly once, and every
    answer equals the distributed one."""
    import sys
    import threading

    import newssearchengine_spark.operators.hnsw as H
    import newssearchengine_spark.operators.similarity as S

    si, vecs, V, _ = corpus
    vecs_p, graph_p = served
    body = _regime_bodies(V)[3][0]
    want = _hits(si, body, vecs, graph_p)  # list-built vecs: distributed
    monkeypatch.setattr(S, "_VECTORS", S.DriverMemo())
    monkeypatch.setattr(H, "_GRAPHS", S.DriverMemo())
    calls = {"vectors": 0, "graph": 0}
    lock = threading.Lock()

    def counted(name, fn):
        def run(*a, **kw):
            with lock:
                calls[name] += 1
            return fn(*a, **kw)
        return run

    monkeypatch.setattr(S, "_decode_vectors",
                        counted("vectors", S._decode_vectors))
    monkeypatch.setattr(H, "_decode_graph", counted("graph", H._decode_graph))
    start = threading.Barrier(8)
    got, errs = [], []

    def client():
        try:
            start.wait()
            got.append(_hits(si, body, vecs_p, graph_p))
        except Exception as e:  # noqa: BLE001 — reported below
            errs.append(e)

    threads = [threading.Thread(target=client) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errs
    assert calls == {"vectors": 1, "graph": 1}
    assert S.driver_vectors(vecs_p, "doc_id", "embedding") is not None
    assert got == [want] * 8
