"""Generative differential test: random nested ES `bool` bodies vs an
independent recursive pure-python evaluator.

test_es_dsl.py pins each semantics rule with a hand-written shape; this
module COMPOSES those rules randomly (seeded — every failure replays) so
clause interactions no fixed case combines are still checked against the
ES/Lucene bool contract spelled out in
plans/search.py:search_bool_tree's docstring: boosted AND-matches under
must_not, per-clause minimum_should_match inside nested shoulds, filter
context gating a boosted subtree, unsatisfiable msm deep in a tree,
absent-token leaves, duplicate clauses (each contributes), body-level
boost and percentage/negative msm forms.

The oracle here re-derives matched/score recursively from the raw body
and OracleIndex BM25 — it shares no code with the adapter
(plans/dsl.py:_bool_to_tree) or the tree evaluator
(plans/search.py:_bool_tree), so agreement is two independent
implementations of the published semantics, not an identity.

Reference parity: the reference's ES backend accepts arbitrarily nested
bool bodies (es.search callers, e.g.
/root/reference/netzpolitik/experiments/keyword_match_recall.py:30); its
own experiments issue flat shapes, so this closes the switching-user
surface with randomized depth.
"""

from __future__ import annotations

import operator
import os
import random

import pytest
from pyspark.sql import functions as F

from newssearchengine_spark.config import IndexConfig
from newssearchengine_spark.datagen import source_files
from newssearchengine_spark.oracle import pure
from newssearchengine_spark.plans.dsl import es_search
from newssearchengine_spark.plans.index_build import build_index
from newssearchengine_spark.plans.search import SegmentIndex
from newssearchengine_spark.sources.corpus import assign_doc_ids

CFG = IndexConfig(n_buckets=8, doc_range=200, block_size=16)

N_BODIES = 30
SEED = 0xE5


@pytest.fixture(scope="module")
def fuzz_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fuzz")
    docs = assign_doc_ids(source_files(spark, 300, seed=77, partitions=4),
                          num_partitions=4)
    one = docs.select("doc_id", "repo",
                      F.col("content").alias("text")).persist()
    d = str(root / "idx")
    build_index(one, d, CFG, text_col="text", meta_cols=("repo",),
                resume=False)
    si = SegmentIndex(spark, d)
    raw = {r["doc_id"]: r["text"]
           for r in one.select("doc_id", "text").collect()}
    repo_of = {r["doc_id"]: r["repo"]
               for r in one.select("doc_id", "repo").collect()}
    oidx = pure.OracleIndex.build(raw, si.analyzer)
    dt = {did: set(pure.analyze(t, si.analyzer)) for did, t in raw.items()}
    return si, oidx, dt, raw, repo_of


def _vocab(si, oidx) -> list[str]:
    """Analyzer-fixed-point tokens spanning hot / mid / rare df bands,
    plus guaranteed-absent tokens (leaves that must match nothing)."""
    by_df = sorted(oidx.postings.items(), key=lambda kv: -len(kv[1]))
    fixed = [t for t, _ in by_df if si.analyze_query(t) == [t]]
    hot = fixed[:12]
    mid = fixed[len(fixed) // 3:len(fixed) // 3 + 12]
    rare = [t for t in fixed if len(oidx.postings[t]) <= 2][:8]
    absent = ["zzzqx", "zzzqy", "zzzqz"]
    assert len(hot) >= 8 and len(mid) >= 8, "corpus too small for fuzz"
    # hot tokens weighted up so most bodies have a non-empty match set
    # (a must clause drawing a rare/absent token empties the whole body)
    return hot * 3 + mid * 2 + rare + absent


# ---------------------------------------------------------------------------
# body generator (seeded; every body is a valid adapter shape)
# ---------------------------------------------------------------------------

def _gen_text(rng: random.Random, vocab: list[str]) -> str:
    return " ".join(rng.choice(vocab)
                    for _ in range(rng.randint(1, 3)))


def _maybe_boost(rng: random.Random, spec: dict) -> dict:
    if rng.random() < 0.35:
        spec["boost"] = rng.choice([0.5, 2.0, 2.5])
    return spec


def _gen_clause(rng: random.Random, vocab: list[str], depth: int,
                metas: dict | None = None) -> dict:
    r = rng.random()
    if depth < 2 and r < 0.22:
        return {"bool": _gen_bool(rng, vocab, depth + 1, metas)}
    if r < 0.5:
        spec = {"query": _gen_text(rng, vocab)}
        p = rng.random()
        if p < 0.3:
            spec["operator"] = "and"
        elif p < 0.55:
            spec["minimum_should_match"] = rng.randint(1, 3)
        return {"match": {"text": _maybe_boost(rng, spec)}}
    if r < 0.62:
        return {"term": {"text": rng.choice(vocab)}}
    return {"match": {"text": _gen_text(rng, vocab)}}


def _gen_filter(rng: random.Random, vocab: list[str], depth: int,
                metas: dict | None = None) -> dict:
    if metas and rng.random() < 0.4:
        return _gen_meta(rng, metas)
    r = rng.random()
    if depth < 2 and r < 0.2:
        return {"bool": _gen_bool(rng, vocab, depth + 1, metas)}
    if r < 0.5:
        spec = {"query": _gen_text(rng, vocab)}
        if rng.random() < 0.5:
            spec["operator"] = "and"
        else:
            spec["minimum_should_match"] = rng.randint(1, 2)
        return {"match": {"text": spec}}
    return {"match": {"text": _gen_text(rng, vocab)}}


def _gen_meta(rng: random.Random, metas: dict) -> dict:
    """A metadata filter over the doc store: term / terms on `repo`
    (term in its short or long form), range / exists on `content_len`
    (bounds drawn from its values, some of them floats)."""
    repos, lens = metas["repo"], metas["content_len"]
    r = rng.random()
    if r < 0.3:
        v = rng.choice(repos)
        return {"term": {"repo": {"value": v} if rng.random() < 0.5 else v}}
    if r < 0.55:
        return {"terms": {"repo": rng.sample(repos, rng.randint(1, 3))}}
    if r < 0.9:
        lo, hi = sorted(rng.sample(lens, 2))
        ops = rng.choice([("gte",), ("lt",), ("gte", "lt"), ("gt", "lte")])
        bounds = {"gte": lo, "gt": lo + 0.5, "lt": hi + 0.5, "lte": hi}
        return {"range": {"content_len": {op: bounds[op] for op in ops}}}
    return {"exists": {"field": rng.choice(["content_len", "repo"])}}


def _gen_bool(rng: random.Random, vocab: list[str], depth: int = 0,
              metas: dict | None = None) -> dict:
    """A random bool body; with `metas` (value pools, _store_values)
    filter lists also draw metadata filters (_gen_meta). Without it the
    draws are the pinned seeds' ones."""
    while True:
        out: dict = {}
        for role, lo, hi, gen in (("must", 0, 2, _gen_clause),
                                  ("should", 0, 3, _gen_clause),
                                  ("must_not", 0, 2, _gen_clause),
                                  ("filter", 0, 2, _gen_filter)):
            n = rng.randint(lo, hi)
            if n:
                out[role] = [gen(rng, vocab, depth, metas)
                             for _ in range(n)]
        if not out:
            continue
        if out.get("should") and rng.random() < 0.4:
            out["minimum_should_match"] = rng.choice(
                [1, 2, 3, "50%", "-1", "1<75%", "2<-25%",
                 "1<100% 3<50%"])
        if depth > 0 and rng.random() < 0.3:
            out["boost"] = rng.choice([0.5, 2.0])
        elif depth == 0 and rng.random() < 0.25:
            out["boost"] = rng.choice([0.5, 2.0])
        return out


# ---------------------------------------------------------------------------
# independent oracle: recursive (matched, score) over the RAW body
# ---------------------------------------------------------------------------

def _resolve_msm_oracle(raw, total: int) -> int:
    """The Lucene minimum_should_match value spec, re-derived (NOT
    imported from the adapter): int n; -n => total-n; 'P%' =>
    floor(total*P/100); '-P%' => total - floor; clamp at 0."""
    if raw is None:
        return 0
    if isinstance(raw, int):
        return max(0, raw if raw >= 0 else total + raw)
    s = str(raw).strip()
    if "<" in s:
        # conditional chain, re-derived from the published Solr
        # calculateMinShouldMatch: all-required until a threshold is
        # exceeded; the last exceeded condition's spec wins
        result = total
        for cond in s.split():
            bound, _, sub = cond.partition("<")
            if total <= int(bound):
                return max(0, result)
            result = _resolve_msm_oracle(sub, total)
        return max(0, result)
    if s.endswith("%"):
        pct = int(s[:-1])
        part = (abs(pct) * total) // 100
        return max(0, part if pct >= 0 else total - part)
    n = int(s)
    return max(0, n if n >= 0 else total + n)


def _as_list(v):
    return v if isinstance(v, list) else [v]


def _store_values(si) -> dict:
    """doc_id -> {repo, content_len}, read from the index's doc store
    (the metadata filters' oracle input)."""
    import pandas as pd

    store = pd.read_parquet(os.path.join(si.index_dir, "doc_store"),
                            columns=["doc_id", "repo", "content_len"])
    return {int(d): {"repo": r, "content_len": int(n)}
            for d, r, n in zip(store["doc_id"], store["repo"],
                               store["content_len"])}


def _meta_pools(store: dict) -> dict:
    """_gen_meta's value pools: the distinct repos and content lengths."""
    return {c: sorted({v[c] for v in store.values()})
            for c in ("repo", "content_len")}


class _Oracle:
    def __init__(self, si, oidx, dt, store: dict | None = None):
        self.si, self.oidx, self.dt, self.store = si, oidx, dt, store

    def meta(self, kind: str, spec: dict, d: int) -> bool:
        """A metadata filter over the doc store's values."""
        if kind == "exists":
            return self.store[d].get(spec["field"]) is not None
        col, v = next(iter(spec.items()))
        x = self.store[d][col]
        if kind == "term":
            return x == (v["value"] if isinstance(v, dict) else v)
        if kind == "terms":
            return x in v
        assert kind == "range"
        cmp = {"gte": operator.ge, "gt": operator.gt,
               "lte": operator.le, "lt": operator.lt}
        return all(cmp[op](x, b) for op, b in v.items())

    def clause(self, c: dict, d: int):
        """-> (matched, score) or None when the clause is a lenient
        no-op (analyzed to nothing)."""
        kind, spec = next(iter(c.items()))
        present = self.dt[d]
        if kind == "bool":
            r = self.node(spec, d)
            if r is None:
                return None
            m, s = r
            return m, s * float(spec.get("boost", 1.0))
        if kind == "term":
            tok = next(iter(spec.values()))
            return tok in present, self.oidx.score([tok], d)
        assert kind == "match"
        v = next(iter(spec.values()))
        text = v["query"] if isinstance(v, dict) else v
        boost = float(v.get("boost", 1.0)) if isinstance(v, dict) else 1.0
        toks = sorted(set(self.si.analyze_query(text)))
        if not toks:
            return None
        hit = [t for t in toks if t in present]
        score = self.oidx.score(hit, d) * boost
        if isinstance(v, dict) and str(v.get("operator", "or")).lower() == "and":
            return len(hit) == len(toks), score
        msm = (_resolve_msm_oracle(v.get("minimum_should_match"), len(toks))
               if isinstance(v, dict) else 0)
        if msm > len(toks):
            return False, score
        return len(hit) >= max(1, msm), score

    def filter_clause(self, f: dict, d: int):
        kind, spec = next(iter(f.items()))
        if kind in ("term", "terms", "range", "exists"):
            return self.meta(kind, spec, d)
        r = self.clause(f, d)
        return None if r is None else r[0]

    def node(self, spec: dict, d: int):
        must = [r for c in _as_list(spec.get("must", []))
                if (r := self.clause(c, d)) is not None]
        should = [r for c in _as_list(spec.get("should", []))
                  if (r := self.clause(c, d)) is not None]
        must_not = [r for c in _as_list(spec.get("must_not", []))
                    if (r := self.clause(c, d)) is not None]
        filt = [m for f in _as_list(spec.get("filter", []))
                if (m := self.filter_clause(f, d)) is not None]
        if not (must or should or must_not or filt):
            return None
        msm = _resolve_msm_oracle(spec.get("minimum_should_match"),
                                  len(should))
        if msm > len(should):
            return False, 0.0
        eff = msm if msm > 0 else (
            0 if (must or filt) else (1 if should else 0))
        n_should_hit = sum(1 for m, _ in should if m)
        matched = (all(m for m, _ in must)
                   and all(filt)
                   and not any(m for m, _ in must_not)
                   and n_should_hit >= eff)
        score = (sum(s for m, s in must if m)
                 + sum(s for m, s in should if m))
        return matched, score


# ---------------------------------------------------------------------------

def test_random_bool_trees_match_python_oracle(fuzz_index):
    si, oidx, dt, raw, _repo = fuzz_index
    vocab = _vocab(si, oidx)
    rng = random.Random(SEED)
    orc = _Oracle(si, oidx, dt)

    n_nonempty = 0
    n_nested = 0
    for i in range(N_BODIES):
        bspec = _gen_bool(rng, vocab)
        body = {"query": {"bool": bspec}}
        got = {r["doc_id"]: r["score"]
               for r in es_search(si, body, size=len(raw) + 10).collect()}

        root_boost = float(bspec.get("boost", 1.0))
        want: dict[int, float] = {}
        for d in raw:
            r = orc.node(bspec, d)
            if r is not None and r[0]:
                want[d] = round(r[1] * root_boost, 6)

        assert sorted(got) == sorted(want), (
            f"body #{i} (seed {SEED:#x}) match-set mismatch:\n{bspec}\n"
            f"engine-only={sorted(set(got) - set(want))[:5]} "
            f"oracle-only={sorted(set(want) - set(got))[:5]}")
        for d, s in got.items():
            assert s == pytest.approx(want[d], abs=2e-6), (
                f"body #{i} (seed {SEED:#x}) score mismatch doc {d}: "
                f"engine={s} oracle={want[d]}\n{bspec}")
        n_nonempty += bool(want)
        n_nested += any(
            isinstance(c, dict) and "bool" in c
            for role in ("must", "should", "must_not", "filter")
            for c in _as_list(bspec.get(role, [])))

    # the generator must actually exercise the interesting space (an
    # empty-result body still verifies semantics — the engine must
    # agree it is empty — but most value is in non-empty match sets)
    assert n_nonempty >= N_BODIES // 3
    assert n_nested >= 3


META_SEED = 0x3E7A


def test_random_bool_trees_with_meta_filters(fuzz_index, monkeypatch):
    """Random bool bodies whose filter lists, at any depth, also draw
    metadata filters (term / terms on repo, range / exists on
    content_len) vs the recursive oracle over the doc store's values.
    Every body runs in the default placement (the driver, under
    SEARCH_DRIVER_CAP) and in the distributed plan forced by
    SEARCH_DRIVER_CAP=-1, which must give the same rows."""
    import newssearchengine_spark.plans.search as S

    si, oidx, dt, raw, _repo = fuzz_index
    vocab = _vocab(si, oidx)
    store = _store_values(si)
    metas = _meta_pools(store)
    rng = random.Random(META_SEED)
    orc = _Oracle(si, oidx, dt, store)

    def has_meta(spec) -> bool:
        return any(
            has_meta(c["bool"]) if "bool" in c
            else role == "filter" and "match" not in c
            for role in ("must", "should", "must_not", "filter")
            for c in _as_list(spec.get(role, [])))

    n_meta = n_nonempty = 0
    for i in range(N_BODIES):
        bspec = _gen_bool(rng, vocab, metas=metas)
        body = {"query": {"bool": bspec}}
        got = sorted(tuple(r) for r in
                     es_search(si, body, size=len(raw) + 10).collect())
        monkeypatch.setattr(S, "SEARCH_DRIVER_CAP", -1)
        dist = sorted(tuple(r) for r in
                      es_search(si, body, size=len(raw) + 10).collect())
        monkeypatch.undo()
        assert got == dist, f"body #{i} (seed {META_SEED:#x}) placements " \
            f"differ:\n{bspec}"
        got = {d: sc for _, d, sc in got}
        root_boost = float(bspec.get("boost", 1.0))
        want = {}
        for d in raw:
            r = orc.node(bspec, d)
            if r is not None and r[0]:
                want[d] = round(r[1] * root_boost, 6)
        assert sorted(got) == sorted(want), (
            f"body #{i} (seed {META_SEED:#x}) match-set mismatch:\n{bspec}\n"
            f"engine-only={sorted(set(got) - set(want))[:5]} "
            f"oracle-only={sorted(set(want) - set(got))[:5]}")
        for d, sc in got.items():
            assert sc == pytest.approx(want[d], abs=2e-6), (
                f"body #{i} (seed {META_SEED:#x}) score mismatch doc {d}"
                f"\n{bspec}")
        n_meta += has_meta(bspec)
        n_nonempty += bool(want)
    assert n_meta >= N_BODIES // 3
    assert n_nonempty >= N_BODIES // 4


def test_random_query_string_grammars_match_python_oracle(fuzz_index):
    """Random boolean query_string grammars (mixed AND/OR, ES
    AND-binds-tighter precedence, optional field boost) vs a from-the-
    spec oracle: groups = OR-split then AND-split; a doc matches a
    group when EVERY operand has >= 1 token present; the doc's score is
    the boost-scaled sum over its MATCHED groups of the group's
    token-union BM25 (the semantics pinned by
    test_query_string_mixed_and_or_precedence, randomized). Operand
    tokens are drawn without replacement per grammar, so the pure-OR /
    pure-AND / mixed routes' scoring conventions coincide and every
    route is exercised against the same formula."""
    si, oidx, dt, raw, _repo = fuzz_index
    vocab = _vocab(si, oidx)
    rng = random.Random(SEED + 2)

    routes = set()
    for i in range(15):
        pool = list(dict.fromkeys(vocab))
        rng.shuffle(pool)
        n_ops = rng.randint(2, 4)
        operands = [[pool.pop() for _ in range(rng.randint(1, 2))]
                    for _ in range(n_ops)]
        ops = [rng.choice(["AND", "OR"]) for _ in range(n_ops - 1)]
        text = operands[0][0] if len(operands[0]) == 1 else " ".join(
            operands[0])
        parts = [" ".join(operands[0])]
        for op, opr in zip(ops, operands[1:]):
            parts += [op, " ".join(opr)]
        grammar = " ".join(parts)
        boost = rng.choice([1.0, 1.0, 2.0, 0.5])
        field = "text" if boost == 1.0 else f"text^{boost:g}"
        routes.add(("AND" in ops, "OR" in ops))

        body = {"query": {"query_string": {
            "query": grammar, "fields": [field]}}}
        got = {r["doc_id"]: r["score"]
               for r in es_search(si, body, size=len(raw) + 10).collect()}

        # oracle: OR-split -> AND-split, analyzed per operand
        groups = []
        for seg in grammar.split(" OR "):
            groups.append([sorted(set(si.analyze_query(o)))
                           for o in seg.split(" AND ")])
        want: dict[int, float] = {}
        for d in raw:
            s, matched = 0.0, False
            for g in groups:
                if all(any(t in dt[d] for t in opr) for opr in g):
                    matched = True
                    s += oidx.score([t for opr in g for t in opr], d)
            if matched:
                want[d] = round(s * boost, 6)
        assert sorted(got) == sorted(want), (
            f"grammar #{i} (seed {SEED + 2:#x}) match-set mismatch: "
            f"{grammar!r} boost={boost}")
        for d, s in got.items():
            assert s == pytest.approx(want[d], abs=2e-6), (
                f"grammar #{i} score mismatch doc {d}: {grammar!r}")
    # pure-AND, pure-OR and mixed grammars must all have been drawn
    assert len(routes) >= 3


def test_random_bodies_after_random_deletes(spark, tmp_path):
    """Tombstone interaction fuzz: delete a random doc subset (ranking
    hits, non-matching docs, and a never-indexed id), then run random
    bool bodies through every routing regime. Lucene frozen-stats
    semantics (plans/delete.py): scores stay computed from the
    original index stats; deleted docs are only EXCLUDED — so the
    oracle is the same recursive evaluator minus the tombstoned ids."""
    from newssearchengine_spark.plans.delete import delete_docs

    docs = assign_doc_ids(source_files(spark, 200, seed=79, partitions=4),
                          num_partitions=4)
    one = docs.select("doc_id", F.col("content").alias("text"))
    d = str(tmp_path / "idx")
    build_index(one, d, CFG, text_col="text", resume=False)
    si = SegmentIndex(spark, d)
    raw = {r["doc_id"]: r["text"]
           for r in one.select("doc_id", "text").collect()}
    oidx = pure.OracleIndex.build(raw, si.analyzer)
    dt = {did: set(pure.analyze(t, si.analyzer)) for did, t in raw.items()}
    vocab = _vocab(si, oidx)
    rng = random.Random(SEED + 3)
    orc = _Oracle(si, oidx, dt)

    # tombstone docs that actually rank for a hot disjunction, plus
    # random ids and one the index never held
    hot_hits = [r["doc_id"] for r in
                si.search(vocab[:3], 8, mode="taat").collect()]
    dead = set(hot_hits[:5]) | {rng.choice(sorted(raw)) for _ in range(8)}
    n = delete_docs(spark, d, sorted(dead) + [10 ** 9])
    si = SegmentIndex(spark, d)   # reload with tombstones
    assert si.n_deleted() == len(dead) + 1 and n == len(dead) + 1

    n_nonempty = n_excluded = 0
    for i in range(8):
        bspec = _gen_bool(rng, vocab)
        body = {"query": {"bool": bspec}}
        got = {r["doc_id"]: r["score"]
               for r in es_search(si, body, size=len(raw) + 10).collect()}
        root_boost = float(bspec.get("boost", 1.0))
        want, would_match = {}, 0
        for did in raw:
            r = orc.node(bspec, did)
            if r is not None and r[0]:
                would_match += 1
                if did not in dead:
                    want[did] = round(r[1] * root_boost, 6)
        assert sorted(got) == sorted(want), (
            f"deleted-body #{i} (seed {SEED + 3:#x}) mismatch:\n{bspec}")
        for did, s in got.items():
            assert s == pytest.approx(want[did], abs=2e-6)
        n_nonempty += bool(want)
        n_excluded += would_match - len(want)
    assert n_nonempty >= 2
    # the deletions must actually have suppressed hits somewhere
    assert n_excluded > 0


@pytest.fixture(scope="module")
def fuzz_two_field(spark, tmp_path_factory):
    """Two per-field indexes (title = leading words, text = content)
    with per-field python oracles, for multi-field DisMax fuzzing."""
    root = tmp_path_factory.mktemp("fuzz2")
    docs = assign_doc_ids(source_files(spark, 300, seed=78, partitions=4),
                          num_partitions=4)
    two = docs.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("content"), " "), 1, 6), " ")
        .alias("title"),
        F.col("content").alias("text"))
    idxs, oracles, toksets = {}, {}, {}
    for fld in ("title", "text"):
        d = str(root / fld)
        build_index(two, d, CFG, text_col=fld, resume=False)
        idxs[fld] = SegmentIndex(spark, d)
        raw = {r["doc_id"]: r[fld]
               for r in two.select("doc_id", fld).collect()}
        oracles[fld] = pure.OracleIndex.build(raw, idxs[fld].analyzer)
        toksets[fld] = {did: set(pure.analyze(t, idxs[fld].analyzer))
                        for did, t in raw.items()}
    return idxs, oracles, toksets


def test_random_multi_field_dismax_matches_python_oracle(fuzz_two_field):
    """Random multi-field multi_match / query_string bodies (field
    boosts, tie_breaker, best_fields/most_fields, operator and/or,
    boolean grammars) vs per-field python oracles combined with the ES
    DisjunctionMaxQuery formula: per matched field, boost-scaled
    field-local BM25; per doc, max + tie_breaker * (sum - max)
    (most_fields == tie_breaker 1.0). Randomized composition of the
    fixed multi-field cases in test_es_dsl.py."""
    idxs, oracles, toksets = fuzz_two_field
    si = idxs["text"]
    vocab = _vocab(si, oracles["text"])
    rng = random.Random(SEED + 4)
    n_docs = len(toksets["text"])

    def field_eval(fld: str, kind: str, payload) -> dict:
        """-> {doc_id: field score} over docs the FIELD matches."""
        oidx, dts = oracles[fld], toksets[fld]
        out = {}
        for d in dts:
            if kind in ("or", "and"):
                toks = payload
                hit = [t for t in toks if t in dts[d]]
                ok = (len(hit) == len(toks)) if kind == "and" else bool(hit)
                if ok and toks:
                    out[d] = oidx.score(toks, d)
            else:  # boolean grammar: OR of AND-groups
                s, matched = 0.0, False
                for g in payload:
                    if all(any(t in dts[d] for t in opr) for opr in g):
                        matched = True
                        s += oidx.score([t for opr in g for t in opr], d)
                if matched:
                    out[d] = s
        return out

    n_xf = 0
    for i in range(14):
        boosts = {"title": rng.choice([1.0, 2.0, 3.0]),
                  "text": rng.choice([1.0, 0.5])}
        fields = [f if boosts[f] == 1.0 else f"{f}^{boosts[f]:g}"
                  for f in ("title", "text")]
        roll = rng.random()
        if roll < 0.25:
            # cross_fields leg: per-term blended-df statistics, per-term
            # dismax-blend, summed over terms — an independent oracle
            # from first principles (BM25 constants written out)
            import math as _math

            text = _gen_text(rng, vocab)
            tb = rng.choice([0.0, 0.3])
            spec = {"fields": fields, "query": text,
                    "type": "cross_fields"}
            if tb:
                spec["tie_breaker"] = tb
            body = {"query": {"multi_match": spec}}
            toks = sorted(set(si.analyze_query(text)))
            df_b = {t: max(len(oracles[f].postings.get(t, {}))
                           for f in ("title", "text")) for t in toks}
            want = {}
            for d in toksets["text"]:
                per_term: dict[str, list[float]] = {}
                for f in ("title", "text"):
                    oidx = oracles[f]
                    dl = oidx.dl.get(d, 0)
                    for t in toks:
                        tf = oidx.postings.get(t, {}).get(d, 0)
                        if tf == 0 or df_b[t] == 0:
                            continue
                        idf = _math.log(
                            1 + (oidx.n_docs - df_b[t] + 0.5)
                            / (df_b[t] + 0.5))
                        p = idf * tf * (1.2 + 1) / (
                            tf + 1.2 * (1 - 0.75
                                        + 0.75 * dl / oidx.avgdl)
                        ) * boosts[f]
                        per_term.setdefault(t, []).append(p)
                if per_term:
                    want[d] = round(sum(
                        max(ps) + tb * (sum(ps) - max(ps))
                        for ps in per_term.values()), 6)
            got = {r["doc_id"]: r["score"] for r in
                   es_search(idxs, body, size=n_docs + 10).collect()}
            assert sorted(got) == sorted(want), (
                f"cross_fields body #{i} (seed {SEED + 4:#x}) "
                f"match-set mismatch:\n{body}")
            for d, s in got.items():
                assert s == pytest.approx(want[d], abs=2e-6), (
                    f"cross_fields body #{i} score mismatch doc {d}")
            n_xf += 1
            continue
        use_mm = roll < 0.6
        if use_mm:
            text = _gen_text(rng, vocab)
            mm_op = rng.choice(["or", "or", "and"])
            mtype = rng.choice(["best_fields", "most_fields"])
            spec = {"fields": fields, "query": text, "operator": mm_op,
                    "type": mtype}
            tb = 1.0 if mtype == "most_fields" else rng.choice([0.0, 0.3])
            if mtype == "best_fields" and tb:
                spec["tie_breaker"] = tb
            body = {"query": {"multi_match": spec}}
            toks = sorted(set(si.analyze_query(text)))
            per_field = {f: field_eval(f, mm_op, toks)
                         for f in ("title", "text")}
        else:
            pool = list(dict.fromkeys(vocab))
            rng.shuffle(pool)
            ops = [pool.pop() for _ in range(3)]
            grammar = f"{ops[0]} {rng.choice(['AND', 'OR'])} " \
                      f"{ops[1]} OR {ops[2]}"
            tb = rng.choice([0.0, 0.25])
            spec = {"fields": fields, "query": grammar}
            if tb:
                spec["tie_breaker"] = tb
            body = {"query": {"query_string": spec}}
            groups = [[sorted(set(si.analyze_query(o)))
                       for o in seg.split(" AND ")]
                      for seg in grammar.split(" OR ")]
            per_field = {f: field_eval(f, "grammar", groups)
                         for f in ("title", "text")}

        got = {r["doc_id"]: r["score"]
               for r in es_search(idxs, body, size=n_docs + 10).collect()}
        want = {}
        for d in set().union(*per_field.values()):
            ss = [per_field[f][d] * boosts[f]
                  for f in ("title", "text") if d in per_field[f]]
            want[d] = round(max(ss) + tb * (sum(ss) - max(ss)), 6)
        assert sorted(got) == sorted(want), (
            f"dismax body #{i} (seed {SEED + 4:#x}) match-set mismatch:"
            f"\n{body}")
        for d, s in got.items():
            assert s == pytest.approx(want[d], abs=2e-6), (
                f"dismax body #{i} score mismatch doc {d}:\n{body}")
    assert n_xf >= 2  # the cross_fields leg must actually be drawn


def test_random_msearch_batches_match_per_body_search(fuzz_index):
    """Metamorphic check on the _msearch batching machinery: a random
    MIXED batch (batchable plain matches incl. exact duplicates — the
    dedup + alias fan-out path — pure-OR query_strings, and arbitrary
    fuzzed bool trees that take the per-body fallback) must return each
    body's block IDENTICAL to that body's own es_search. Randomized
    composition of the routes test_es_dsl.py pins individually."""
    from newssearchengine_spark.plans.dsl import es_msearch

    si, oidx, dt, raw, _repo = fuzz_index
    vocab = _vocab(si, oidx)
    rng = random.Random(SEED + 1)

    bodies: list[dict] = []
    for _ in range(5):
        bodies.append(
            {"query": {"match": {"text": _gen_text(rng, vocab)}}})
    bodies.append(bodies[0])  # exact duplicate -> shared dedup slot
    for _ in range(2):
        bodies.append({"query": {"query_string": {
            "query": _gen_text(rng, vocab), "fields": ["text"]}}})
    for _ in range(4):
        bodies.append({"query": {"bool": _gen_bool(rng, vocab)}})
    # the round-5 closing kinds ride the per-body fallback
    bodies.append({"query": {"terms_set": {"text": {
        "terms": rng.sample(vocab, 3),
        "minimum_should_match": rng.randint(1, 3)}}}})
    bodies.append({"query": {"pinned": {
        "ids": rng.sample(sorted(raw), 2),
        "organic": {"query_string": {"query": _gen_text(rng, vocab),
                                     "fields": ["text"]}}}}})
    rng.shuffle(bodies)

    got = es_msearch(si, bodies, size=12).collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for i, b in enumerate(bodies):
        want = [(r["rank"], r["doc_id"], r["score"])
                for r in es_search(si, b, size=12).collect()]
        assert sorted(by_qid.get(str(i), [])) == sorted(want), (
            f"msearch block {i} != es_search (seed {SEED + 1:#x}):\n{b}")


def test_random_agg_bodies_match_python_oracle(fuzz_index):
    """Random aggregation bodies over random query scopes (fuzzed bool
    trees, plain matches, corpus-wide): terms buckets (count desc / key
    asc, size cut), stats, value_count, exact cardinality — each
    recomputed from the oracle match set over the collected metadata.
    ES semantics: aggs run over EVERY matching doc, not the top-k."""
    from collections import Counter

    from newssearchengine_spark.plans.dsl import es_aggs

    si, oidx, dt, raw, repo_of = fuzz_index
    vocab = _vocab(si, oidx)
    rng = random.Random(SEED + 5)
    orc = _Oracle(si, oidx, dt)
    clen = {d: len(t) for d, t in raw.items()}

    checked = 0
    for i in range(14):
        r = rng.random()
        if r < 0.5:
            bspec = _gen_bool(rng, vocab)
            query = {"bool": bspec}
            match = [d for d in raw
                     if (x := orc.node(bspec, d)) is not None and x[0]]
        elif r < 0.8:
            text = _gen_text(rng, vocab)
            query = {"match": {"text": text}}
            toks = set(si.analyze_query(text))
            match = [d for d in raw if toks & dt[d]]
        else:
            query = None
            match = list(raw)
        if not match:
            continue  # empty scopes covered by the fixed empty-agg test
        checked += 1
        size = rng.randint(3, 8)
        body = {"aggs": {
            "by_repo": {"terms": {"field": "repo", "size": size}},
            "len": {"stats": {"field": "content_len"}},
            "n": {"value_count": {"field": "doc_id"}},
            "nrepo": {"cardinality": {"field": "repo"}},
        }}
        if query:
            body["query"] = query
        got = es_aggs(si, body).collect()

        counts = Counter(repo_of[d] for d in match)
        want_terms = sorted(counts.items(),
                            key=lambda kv: (-kv[1], kv[0]))[:size]
        got_terms = [(g["key"], g["doc_count"]) for g in got
                     if g["agg"] == "by_repo"]
        assert sorted(got_terms, key=lambda kv: (-kv[1], kv[0])) == \
            want_terms, f"aggs body #{i} terms mismatch (seed {SEED+5:#x})"

        lens = [clen[d] for d in match]
        st = {g["key"]: g["value"] for g in got if g["agg"] == "len"}
        assert st["count"] == float(len(lens))
        assert st["min"] == float(min(lens))
        assert st["max"] == float(max(lens))
        assert st["sum"] == pytest.approx(float(sum(lens)))
        assert st["avg"] == pytest.approx(sum(lens) / len(lens))
        n_row = [g for g in got if g["agg"] == "n"]
        assert n_row[0]["value"] == float(len(match))
        card = [g for g in got if g["agg"] == "nrepo"]
        assert card[0]["value"] == float(len(counts))
    assert checked >= 7


def test_random_terms_set_and_pinned_bodies(fuzz_index):
    """Random terms_set bodies (constant-msm form) and pinned bodies
    over random organic queries, each vs the pure-python oracle:
    terms_set = distinct-matched-term count >= m with the bool-should
    BM25 sum; pinned = the live listed ids in order, then the organic
    order with the pinned set removed."""
    si, oidx, dt, raw, _repo = fuzz_index
    vocab = _vocab(si, oidx)
    rng = random.Random(SEED + 6)

    n_nonempty = 0
    for i in range(12):
        terms = rng.sample(vocab, rng.randint(2, 5))
        m = rng.randint(1, len(terms) + 1)  # may exceed -> empty, like ES
        body = {"query": {"terms_set": {"text": {
            "terms": terms, "minimum_should_match": m}}}}
        got = [(r["doc_id"], r["score"]) for r in
               es_search(si, body, size=len(raw) + 10).collect()]
        want = []
        for d in raw:
            hit = [t for t in set(terms) if t in dt[d]]
            if len(hit) >= max(m, 1) and m <= len(set(terms)):
                want.append((d, round(oidx.score(hit, d), 6)))
        want.sort(key=lambda x: (-x[1], x[0]))
        assert got == want, (
            f"terms_set body #{i} (seed {SEED + 6:#x}) mismatch: "
            f"terms={terms} m={m}")
        n_nonempty += bool(want)
    assert n_nonempty >= 4

    for i in range(8):
        org_terms = rng.sample(vocab, rng.randint(1, 3))
        organic = {"match": {"text": " ".join(org_terms)}}
        base = oidx.search(org_terms, len(raw))
        # pin a mix of organic hits, random live ids, and absent ids
        pool = ([d for d, _ in base[:5]]
                + rng.sample(sorted(raw), 2) + [10 ** 9 + i])
        rng.shuffle(pool)
        pins, seen = [], set()
        for d in pool[: rng.randint(1, 4)]:
            if d not in seen:
                pins.append(d)
                seen.add(d)
        size = rng.randint(3, 12)
        got = [(r["doc_id"], r["score"]) for r in es_search(
            si, {"query": {"pinned": {"ids": pins, "organic": organic}}},
            size=size).collect()]
        live_pins = [d for d in pins if d in raw]
        want = [(d, (len(pins) - pins.index(d)) * 1e12)
                for d in live_pins]
        org_rounded = sorted(
            ((d, round(s, 6)) for d, s in base if d not in pins),
            key=lambda x: (-x[1], x[0]))
        want += org_rounded
        assert got == want[:size], (
            f"pinned body #{i} (seed {SEED + 6:#x}) mismatch: "
            f"pins={pins} size={size}")


def test_random_composite_pagination(fuzz_index):
    """Random composite bodies — random source pair (repo terms x
    content_len histogram with random interval), random page sizes,
    full after-key walks — each walk must enumerate exactly the python
    oracle's bucket set, in tuple order, with exact counts."""
    from collections import Counter

    from newssearchengine_spark.plans.dsl import es_aggs

    si, oidx, dt, raw, repo_of = fuzz_index
    vocab = _vocab(si, oidx)
    rng = random.Random(SEED + 7)
    clen = {d: len(t) for d, t in raw.items()}

    for i in range(6):
        iv = rng.choice([50, 100, 250, 1000])
        psize = rng.randint(2, 7)
        qterms = rng.sample(vocab, rng.randint(1, 3))
        match = [d for d in raw if set(qterms) & dt[d]] \
            if rng.random() < 0.7 else list(raw)
        query = ({"match": {"text": " ".join(qterms)}}
                 if match is not None and len(match) != len(raw) else None)
        want = Counter((repo_of[d], (clen[d] // iv) * iv)
                       for d in (match if query else raw))
        sources = [{"r": {"terms": {"field": "repo"}}},
                   {"h": {"histogram": {"field": "content_len",
                                        "interval": iv}}}]
        seen = []
        after = None
        for _ in range(200):
            spec = {"size": psize, "sources": sources}
            if after is not None:
                spec["after"] = after
            body = {"aggs": {"c": {"composite": spec}}}
            if query:
                body["query"] = query
            page = es_aggs(si, body).collect()
            if not page:
                break
            for r in page:
                k_r, k_h = r["key"].rsplit("|", 1)
                seen.append((k_r, int(k_h), r["doc_count"]))
            after = {"r": seen[-1][0], "h": seen[-1][1]}
        assert [(a, b) for a, b, _ in seen] == sorted(want), (
            f"composite walk #{i} (seed {SEED + 7:#x}) bucket-set "
            f"mismatch: iv={iv} psize={psize} q={qterms}")
        assert all(want[(a, b)] == c for a, b, c in seen), (
            f"composite walk #{i} count mismatch")


def test_must_not_only_bool_bodies(fuzz_index):
    """A bool with ONLY must_not clauses matches every doc outside the
    excluded set at score 0 (ES pure-exclusion filter context) — flat
    and nested shapes; found by an off-seed sweep of this suite's own
    generator (previously raised ValueError through the adapter)."""
    si, oidx, dt, raw, _repo = fuzz_index
    vocab = _vocab(si, oidx)

    flat = {"query": {"bool": {"must_not": [
        {"match": {"text": f"{vocab[0]} {vocab[1]}"}}]}}}
    got = es_search(si, flat, size=len(raw) + 10).collect()
    toks = {t for w in (vocab[0], vocab[1])
            for t in si.analyze_query(w)}
    want = sorted(d for d in raw if not (toks & dt[d]))
    assert [r["doc_id"] for r in got] == want
    assert all(r["score"] == 0.0 for r in got)

    nested = {"query": {"bool": {"must_not": [
        {"bool": {"must": [{"match": {"text": vocab[0]}}],
                  "should": [{"match": {"text": vocab[2]}}]}}]}}}
    got_n = {r["doc_id"] for r in
             es_search(si, nested, size=len(raw) + 10).collect()}
    t0 = set(si.analyze_query(vocab[0]))
    want_n = {d for d in raw if not (t0 & dt[d])}
    assert got_n == want_n
