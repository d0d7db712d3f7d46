"""Block-max WAND pruning: on idf-skewed postings the algorithm must score
far fewer docs than exist, while staying exactly rank-identical to the
exhaustive path. (The synthetic gate corpus has a tiny flat vocabulary —
every term is hot — so pruning is demonstrated here at the function level
with constructed postings.)"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from newssearchengine_spark.functions.codec import encode_postings, lucene_idf
from newssearchengine_spark.plans.search import _taat_topk, _wand_topk

K1, B = 1.2, 0.75
N_DOCS = 200_000
AVGDL = 100.0


def _chunk(term, doc_ids, tfs, dls, block_size=128):
    docs_b, tfs_b, dls_b, blast, bmax = encode_postings(
        np.asarray(doc_ids, dtype=np.int64), np.asarray(tfs),
        np.asarray(dls), k1=K1, b=B, avgdl=AVGDL, block_size=block_size,
    )
    return dict(term=term, docs=docs_b, tfs=tfs_b, dls=dls_b,
                block_last=blast.tolist(),
                block_max=bmax.astype(np.float32).tolist())


@pytest.fixture(scope="module")
def skewed():
    """One selective term (df=300, high idf) + two hot terms (df=60k,
    tf=1 everywhere, near-zero idf) — the classic WAND-friendly mix."""
    rng = np.random.default_rng(17)
    rows, idf = [], {}
    sel_ids = np.sort(rng.choice(N_DOCS, size=300, replace=False))
    rows.append(_chunk("selective", sel_ids,
                       rng.integers(2, 8, 300), rng.integers(50, 150, 300)))
    idf["selective"] = float(lucene_idf(N_DOCS, 300.0))
    for name in ("hot1", "hot2"):
        ids = np.sort(rng.choice(N_DOCS, size=60_000, replace=False))
        rows.append(_chunk(name, ids, np.ones(ids.size, dtype=np.int64),
                           rng.integers(50, 150, ids.size)))
        idf[name] = float(lucene_idf(N_DOCS, float(ids.size)))
    return pd.DataFrame(rows), idf


def test_wand_prunes_and_stays_exact(skewed):
    pdf, idf = skewed
    t_ids, t_scores = _taat_topk(pdf, idf, k1=K1, b=B, avgdl=AVGDL, k=10)
    stats: dict = {}
    w_ids, w_scores = _wand_topk(pdf, idf, k1=K1, b=B, avgdl=AVGDL, k=10,
                                 stats=stats)
    assert np.array_equal(w_ids, t_ids)
    np.testing.assert_allclose(w_scores, t_scores, atol=1e-12)
    # pruning: the hot lists hold ~119k candidate docs; WAND must fully
    # score only a small fraction (docs that can possibly beat the top-10
    # threshold, i.e. roughly the selective list plus warm-up)
    assert stats["n_candidates"] > 100_000
    assert stats["n_scored"] < stats["n_candidates"] * 0.05, stats
    assert stats["n_skip_jumps"] > 0


def test_wand_no_pruning_possible_still_exact(skewed):
    """All-hot query (flat scores): nothing prunable, result still exact."""
    pdf, idf = skewed
    hot = pdf[pdf.term != "selective"]
    t = _taat_topk(hot, idf, k1=K1, b=B, avgdl=AVGDL, k=25)
    s: dict = {}
    w = _wand_topk(hot, idf, k1=K1, b=B, avgdl=AVGDL, k=25, stats=s)
    assert np.array_equal(w[0], t[0])
    np.testing.assert_allclose(w[1], t[1], atol=1e-12)


def test_bool_distributed_regime_prunes_and_stays_exact(skewed):
    """The above-cap bool regime (_make_bool_taat, VERDICT r4 #1) on a
    skewed fixture: a selective must clause against hot should terms must
    score FAR fewer docs than match the scoring terms — the hot posting
    lists contribute only candidate rows to the accumulator and at most
    ~k rows to the emitted relation — while the surviving docs' scores
    stay bit-identical to the exhaustive taat accumulation."""
    from newssearchengine_spark.functions.codec import decode_postings
    from newssearchengine_spark.plans.search import _make_bool_taat

    pdf, idf = skewed
    scoring = sorted(idf)  # selective + hot1 + hot2 all score
    k = 10
    scorer = _make_bool_taat(
        [["selective"]], [], ["hot1", "hot2"], 0, scoring, idf,
        k1=K1, b=B, avgdl=AVGDL, k=k,
    )
    out = scorer(pdf)
    # matching docs (any scoring term) ~ 119k; candidates = selective df
    # (300); emitted rows <= k + rounding-margin ties
    n_matching = np.unique(np.concatenate([
        decode_postings(r.docs, r.tfs, r.dls)[0]
        for r in pdf.itertuples(index=False)
    ])).size
    assert n_matching > 100_000
    assert len(out["doc_id"]) <= k + 5, \
        "margin cut must bound the emitted relation"
    # exactness: same docs + scores as exhaustive scoring restricted to
    # the must set, cut to top-k
    sel_ids = decode_postings(*pdf[pdf.term == "selective"].iloc[0][
        ["docs", "tfs", "dls"]])[0]
    # production sorts terms before accumulating (_make_scorer); the
    # reference must use the same order for bit-identity
    t_ids, t_scores = _taat_topk(pdf.sort_values("term"), idf, k1=K1, b=B,
                                 avgdl=AVGDL, k=None, only_docs=sel_ids)
    exact = sorted(zip(t_ids.tolist(), t_scores.tolist()),
                   key=lambda t: (-t[1], t[0]))[:k]
    got = sorted(zip(out["doc_id"].tolist(), out["score"].tolist()),
                 key=lambda t: (-t[1], t[0]))[:k]
    assert [d for d, _ in got] == [d for d, _ in exact]
    for (_, a), (_, b_) in zip(got, exact):
        assert a == b_, "bit-identical accumulation required"


def test_bool_distributed_regime_msm_and_must_not(skewed):
    """Constraint coverage of the combined pass: msm >= 2 over the hot
    terms and a must_not exclusion, verified against a naive set
    computation over the decoded postings."""
    from newssearchengine_spark.functions.codec import decode_postings
    from newssearchengine_spark.plans.search import _make_bool_taat

    pdf, idf = skewed
    docsets = {r.term: set(decode_postings(r.docs, r.tfs, r.dls)[0].tolist())
               for r in pdf.itertuples(index=False)}
    want = (docsets["hot1"] & docsets["hot2"]) - docsets["selective"]
    scorer = _make_bool_taat(
        [], ["selective"], ["hot1", "hot2"], 2, ["hot1", "hot2"], idf,
        k1=K1, b=B, avgdl=AVGDL, k=None,
    )
    out = scorer(pdf)
    assert set(out["doc_id"].tolist()) == want and len(want) > 0
