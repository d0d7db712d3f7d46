"""Tests of the benchmark itself (no Spark): generator determinism, the
percentile sample-count rule, and the result line's names and units.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus as C  # noqa: E402
from perfbench import stats  # noqa: E402
from newssearchengine_spark.oracle import pure  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")


@pytest.fixture(scope="module")
def vocab():
    return C.vocabulary(7)


def test_same_seed_same_corpus(vocab):
    a = C.make_corpus(7, 200, vocab=vocab)
    b = C.make_corpus(7, 200, vocab=C.vocabulary(7))
    assert a.docs.equals(b.docs)
    assert np.array_equal(a.embeddings, b.embeddings)
    assert all(np.array_equal(x, y) for x, y in zip(a.tokens, b.tokens))


def test_other_seed_other_corpus(vocab):
    a = C.make_corpus(7, 200, vocab=vocab)
    b = C.make_corpus(8, 200)
    assert not a.docs["content"].equals(b.docs["content"])


def test_schema_and_ids(vocab):
    c = C.make_corpus(7, 50, first_id=1000, vocab=vocab)
    assert list(c.docs.columns) == ["doc_id", "repo", "path", "commit",
                                    "lang", "content"]
    assert c.docs["doc_id"].tolist() == list(range(1000, 1050))
    assert c.embeddings.shape == (50, C.EMBED_DIM)


def test_tokens_are_the_analyzed_terms(vocab):
    """Every generated word analyzes to exactly itself, in order."""
    c = C.make_corpus(7, 100, vocab=vocab)
    for text, toks in zip(c.docs["content"], c.tokens):
        assert pure.analyze(text) == [str(w) for w in vocab[toks]]


def test_long_tail(vocab):
    """Zipf: the head word is in most docs, most terms are singletons."""
    c = C.make_corpus(7, 400, mean_len=100, vocab=vocab)
    df = np.bincount(np.concatenate([np.unique(t) for t in c.tokens]))
    df = df[df > 0]
    assert df.max() > 0.9 * c.n_docs
    assert (df == 1).sum() > 0.5 * df.size
    assert vocab.size >= 100_000


def test_sampled_phrase_occurs(vocab):
    c = C.make_corpus(7, 100, vocab=vocab)
    rng = np.random.default_rng(1)
    for _ in range(10):
        words = C.sample_phrase(c, rng, 3).split()
        assert any(" ".join(str(w) for w in vocab[t]).find(" ".join(words))
                   >= 0 for t in c.tokens)


@pytest.mark.parametrize("q,n", [(0.5, 20), (0.9, 100), (0.95, 200),
                                 (0.99, 1000)])
def test_percentile_sample_rule(q, n):
    assert stats.min_samples(q) == n
    vals = list(range(n))
    assert stats.percentile(vals, q) == pytest.approx(np.quantile(vals, q))
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(vals[:-1], q)


@pytest.mark.parametrize("n,q", [(19, 0.5), (20, 0.5), (99, 0.75),
                                 (100, 0.9), (250, 0.95), (1000, 0.99)])
def test_tail_quantile_is_highest_supported(n, q):
    assert stats.tail_quantile(n) == q


def test_result_line_shape():
    line = stats.result_line(True, 3, 0, {
        "latency_p50_ms": stats.metric(1.5, "ms")})
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["metrics"]["latency_p50_ms"] == {"value": 1.5, "unit": "ms"}
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {})


def test_workload_metric_names_match_benchmark_json():
    """Every workload reports exactly BENCHMARK.json's metric names and
    units (end-to-end untraced, per-layer traced), and run.py accepts
    exactly its workloads."""
    from perfbench import run
    from perfbench import workloads as W

    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == dict(W.END_TO_END)
    assert layers == dict(W.PER_LAYER)
    names = {w["name"] for w in bench["workloads"]}
    assert names == set(W.WORKLOADS)
    for name in names:
        assert run.parse(["--workload", name, "--seed", "1"]).workload == name
    with pytest.raises(SystemExit):
        run.parse(["--workload", "batch_eval", "--seed", "1"])
