"""The benchmark's workloads.

serve_mixed      closed loop of one client per core sending a seeded mix
                 of ES bodies (keyword / short / phrase / bool / knn /
                 msearch at k in {100, 300}) through `es_search` and
                 `es_msearch` to a warm prebuilt index.
ingest_maintain  the write path with reads beside it: a cold build, then
                 cycles, each on a copy of the base index, of delete
                 ~1 % + probe queries over the tombstoned index,
                 compaction, a delta build and a merge.

Each workload returns a `Result` holding the END_TO_END metrics of an
untraced run or the PER_LAYER metrics of a traced one; both workloads
report the same names, so every name reads the workload's own quantity
(see perfbench/README.md for what each one means per workload).
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from newssearchengine_spark.config import IndexConfig
from newssearchengine_spark.operators import hnsw as H
from newssearchengine_spark.plans import delete as D
from newssearchengine_spark.plans import dsl
from newssearchengine_spark.plans import index_build as IB
from newssearchengine_spark.plans import merge as M
from newssearchengine_spark.plans import search as S

from . import corpus as C
from .checks import TOL, Oracle, rows_to_pairs
from .stats import percentile, tail_quantile
from .trace import RssSampler, Tracer, median_or_zero

SERVE_DOCS = 300         # serve_mixed index size (files)
MEAN_LEN = 80            # words per served file (lognormal mean)
INGEST_DOCS = 60         # ingest_maintain base slice (files)
DELTA_DOCS = INGEST_DOCS // 4  # files of each cycle's delta build
INGEST_LEN = 30          # words per ingested file (lognormal mean)
SIZE = 100               # hits per serve request
BATCH = 16               # bodies per msearch batch
BATCH_KS = (100, 300)
PROBES = 12              # probe queries per ingest cycle (a p50 over
                         # MIN_CYCLES needs 20)
WARM_PROBES = 4          # ingest set-up: queries over the base index
MIN_CYCLES = 2           # measured ingest cycles, however slow the host
MERGED_PROBES = 2        # checked queries over each merged index
DELETE_FRAC = 0.01
KNN_K = 10
#: serve_mixed: the request sequence each client repeats (even clients
#: the first, odd ones the second). Mostly interactive keyword and short
#: queries, so the p50 lies inside their cluster rather than in the gap
#: between it and the heavy kinds; the heavy kinds are paired so both
#: sequences take about as long, and 4 clients send 16 keyword, 16 short
#: and 2 of each other kind per 40 requests
CLIENT_KINDS = (
    ("keyword", "short", "phrase", "keyword", "short", "keyword", "short",
     "bool", "keyword", "short"),
    ("keyword", "short", "knn", "keyword", "short", "keyword", "short",
     "msearch", "keyword", "short"))
KINDS = ("keyword", "short", "phrase", "bool", "knn", "msearch")
CHECKS_PER_KIND = 4      # oracle-checked results per op kind and run
CONTENT_CFG = IndexConfig(n_buckets=8, doc_range=512)
#: end-to-end metrics of an untraced run, reported by every workload
END_TO_END = (("setup_s", "s"), ("throughput_per_s", "1/s"),
              ("latency_p50_ms", "ms"), ("peak_rss_mb", "MB"),
              ("index_bytes_per_input_byte", "ratio"))
#: per-layer metrics of a traced run, reported by every workload
PER_LAYER = (
    *((f"dsl.{k}_call_ms", "ms") for k in (
        "keyword", "short", "phrase", "bool", "knn", "msearch", "probe")),
    ("search.analyze_query_ms", "ms"), ("search.term_dfs_ms", "ms"),
    ("search.collect_ms", "ms"), ("search.search_many_ms", "ms"),
    ("search.postings_per_query", "count"),
    ("search.postings_per_hit", "ratio"),
    ("search.driver_regime_frac", "ratio"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.failed_tasks", "count"),
    ("spark.cache_mem_mb", "MB"), ("spark.cache_disk_mb", "MB"),
    ("hnsw.knn_ms", "ms"), ("hnsw.build_s", "s"),
    *((f"index_build.{p}_s", "s") for p in (
        "fingerprint", "analyze", "doc_store", "term_stats", "segments",
        "manifests")),
    *((f"index_build.{p}_bytes", "bytes") for p in (
        "segments", "doc_store", "term_stats")),
    ("delete.delete_docs_ms", "ms"), ("delete.tombstones", "count"),
    ("delete.compact_s", "s"), ("merge.merge_s", "s"),
    *((f"self.{layer}_s", "s") for layer in (
        "op", "dsl", "search", "spark", "hnsw", "index_build", "delete",
        "merge")),
    ("trace.overhead_frac", "ratio"),
)
#: span layers: "op" is the benchmark's own time around each operation
LAYERS = ("op", "dsl", "search", "spark", "hnsw", "index_build", "delete",
          "merge")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer | None
    vocab: np.ndarray = None


@dataclass
class Result:
    metrics: dict          # END_TO_END untraced, PER_LAYER traced
    attempted: int
    failed: int
    notes: list = field(default_factory=list)


class Ops:
    """Thread-safe op log: latencies by kind, failures, checked samples."""

    def __init__(self, tracer: Tracer | None):
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.traced_lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.to_check: list[tuple] = []
        self._seen: dict[str, int] = {}
        self._lock = threading.Lock()

    def trace_next(self, kind: str) -> bool:
        """Every other op of each kind is traced (none without a tracer),
        so a traced run times each kind both ways."""
        if self.tracer is None:
            return False
        with self._lock:
            n = self._seen[kind] = self._seen.get(kind, 0) + 1
        return n % 2 == 0

    def run(self, kind: str, call, *, traced: bool, check=None):
        """Time one op: `call()` returns a DataFrame, collected here.
        `check(rows)` runs after the measured window (`verify`)."""
        tr = self.tracer
        if tr is not None:
            tr.on = traced
        rows, ok = None, True
        cm = tr.op(kind) if tr is not None else _null()
        t0 = time.perf_counter()
        try:
            with cm as rec:
                df = call()
                if tr is not None:
                    with tr.span("spark", "collect"):
                        rows = df.collect()
                else:
                    rows = df.collect()
                if rec is not None:
                    rec["hits"] = len(rows)
        except Exception:  # an engine error is a failed op, not a crash
            ok = False
            err = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        if tr is not None:
            tr.on = False
        with self._lock:
            self.attempted += 1
            if ok:
                (self.traced_lat if traced else self.lat).setdefault(
                    kind, []).append(dt)
                if check is not None:
                    self.to_check.append((kind, rows, check))
            else:
                self.failed += 1
                self.errors.append(err)
        return rows

    def verify(self) -> None:
        """Run the deferred checks; each mismatch is one failed op."""
        for kind, rows, check in self.to_check:
            bad = check(rows)
            bad = int(bad) if not isinstance(bad, bool) else int(not bad)
            if bad:
                self.failed += bad
                self.errors.append(f"wrong answer: {kind}")
        self.to_check = []


class _null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


# -- helpers ----------------------------------------------------------------
def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files
                     if not f.endswith(".crc"))
    return total


def end_to_end(setup_s: float, throughput: float, lat: list[float],
               peak_mb: float, bytes_ratio: float) -> dict:
    """The END_TO_END metrics; the p50 raises TooFewSamples when the run
    measured fewer latencies than the sample-count rule asks for."""
    values = (setup_s, throughput, percentile(lat, 0.5) * 1e3, peak_mb,
              bytes_ratio)
    return {name: (float(v), unit)
            for (name, unit), v in zip(END_TO_END, values)}


def in_threads(calls) -> None:
    """Run each call on its own thread and wait for all of them."""
    threads = [threading.Thread(target=c) for c in calls]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def latency_note(lat: list[float]) -> str:
    """Sample count, p50 and the highest percentile the count supports."""
    qs = sorted({0.5, tail_quantile(len(lat))})
    return f"latency n={len(lat)} " + " ".join(
        f"p{q * 100:g}={percentile(lat, q) * 1e3:.1f}ms" for q in qs)


def traced_span(tracer, layer, name):
    return tracer.span(layer, name) if tracer is not None else _null()


def keyword_text(gen: S.SegmentIndex, corpus: C.Corpus, rng) -> str:
    """The reference's background-linking query text: tf-idf keywords of
    a sampled doc (ES more_like_this form), space-joined."""
    while True:
        d = int(rng.integers(corpus.n_docs))
        kws = gen.keywords_from_text(corpus.docs["content"].iat[d])
        if kws:
            return " ".join(kws)


def overhead_frac(ops: Ops) -> float:
    """Traced vs untraced median latency, weighted by traced op count."""
    num = den = 0.0
    for kind, tl in ops.traced_lat.items():
        ul = ops.lat.get(kind)
        if ul and tl:
            num += len(tl) * (np.median(tl) / np.median(ul) - 1.0)
            den += len(tl)
    return num / den if den else 0.0


def layer_metrics(tracer: Tracer, ops: Ops, *, index_dir: str,
                  hnsw_s: float = 0.0, tombstones: int = 0) -> dict:
    """Per-layer metrics of a traced run (0 where the layer is unused);
    `index_dir` is the index whose on-disk parts are sized."""
    tr = tracer
    out = {}
    kinds = KINDS + ("probe",)
    roots = {sid for sid, _, _, ly, *_ in tr.spans if ly == "op"}
    kind_of = {op_id: kind for op_id, kind, *_ in tr.ops}
    for kind in kinds:
        durs = [t1 - t0 for _, parent, op, ly, nm, t0, t1 in tr.spans
                if ly == "dsl" and parent in roots and kind_of.get(op) == kind]
        out[f"dsl.{kind}_call_ms"] = (median_or_zero(durs) * 1e3, "ms")
    out["search.analyze_query_ms"] = (
        median_or_zero(tr.per_op_total("search", "analyze_query")) * 1e3, "ms")
    out["search.term_dfs_ms"] = (
        median_or_zero(tr.per_op_total("search", "term_dfs")) * 1e3, "ms")
    out["search.collect_ms"] = (
        median_or_zero(tr.durations("spark", "collect")) * 1e3, "ms")
    out["search.search_many_ms"] = (
        median_or_zero(tr.durations("search", "search_many")) * 1e3, "ms")
    hits = sum(h for *_, h in tr.ops)
    postings = tr.counts["search.postings"]
    out["search.postings_per_query"] = (
        postings / max(1.0, tr.counts["search.calls"]
                       + tr.counts["search.many_queries"]), "count")
    out["search.postings_per_hit"] = (postings / max(1, hits), "ratio")
    out["search.driver_regime_frac"] = (
        tr.counts["search.driver_calls"] / max(1.0, tr.counts["search.calls"]),
        "ratio")
    jc = tr.job_counts()
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_op"] = (float(np.mean(jc[key])) if jc[key]
                                      else 0.0, "count")
    out["spark.failed_tasks"] = (float(sum(jc["failed"])), "count")
    out["hnsw.knn_ms"] = (
        median_or_zero(tr.durations("hnsw", "hnsw_candidates")) * 1e3, "ms")
    for phase in ("fingerprint", "analyze", "doc_store", "term_stats",
                  "segments", "manifests"):
        out[f"index_build.{phase}_s"] = (
            tr.counts[f"index_build.{phase}_s"], "s")
    out["delete.delete_docs_ms"] = (
        median_or_zero(tr.durations("delete", "delete_docs")) * 1e3, "ms")
    out["delete.compact_s"] = (sum(tr.durations("delete", "compact_index")),
                               "s")
    out["merge.merge_s"] = (sum(tr.durations("merge", "merge_indexes")), "s")
    self_t = tr.self_time_by_layer()
    for layer in LAYERS:
        out[f"self.{layer}_s"] = (self_t.get(layer, 0.0), "s")
    out["trace.overhead_frac"] = (overhead_frac(ops), "ratio")
    mem, disk = tr.cache_storage_mb()
    out["spark.cache_mem_mb"] = (mem, "MB")
    out["spark.cache_disk_mb"] = (disk, "MB")
    out["hnsw.build_s"] = (hnsw_s, "s")
    out["delete.tombstones"] = (float(tombstones), "count")
    for part in ("segments", "doc_store", "term_stats"):
        out[f"index_build.{part}_bytes"] = (
            float(dir_bytes(os.path.join(index_dir, part))), "bytes")
    return out


# -- set-up -----------------------------------------------------------------
@dataclass
class Served:
    corpus: C.Corpus
    index: S.SegmentIndex
    vectors: object
    graph: object
    setup_s: float
    hnsw_s: float
    index_bytes: int
    input_bytes: int


def setup_serving(ctx: Ctx) -> Served:
    """Build the index a serving frontend queries: content (with
    positions) and an HNSW graph over the embeddings, with the segment
    caches filled. Timed (`setup_s`, which serve_mixed extends by its
    warm-up requests)."""
    spark, tr = ctx.spark, ctx.tracer
    corpus = C.make_corpus(ctx.seed, SERVE_DOCS, mean_len=MEAN_LEN,
                           vocab=ctx.vocab)
    if tr is not None:
        tr.on = True
    t0 = time.perf_counter()
    src = corpus.spark_frame(spark).persist()
    src.count()
    cdir = os.path.join(ctx.work, "serve-content")
    IB.build_index(src.drop("embedding"), cdir, CONTENT_CFG,
                   meta_cols=("lang",))
    index = S.SegmentIndex(spark, cdir).warm(positions=True)
    th = time.perf_counter()
    with traced_span(tr, "hnsw", "hnsw_build"):
        graph = H.hnsw_build(
            src.select(src.doc_id.alias("vec_id"), "embedding"),
            n_shards=4, m=8, ef_construction=32).persist()
        graph.count()
    hnsw_s = time.perf_counter() - th
    served = Served(corpus, index, src.select("doc_id", "embedding"),
                    graph, time.perf_counter() - t0, hnsw_s,
                    dir_bytes(cdir), corpus.input_bytes())
    if tr is not None:
        tr.on = False
    return served


def make_request(sv: Served, gen: S.SegmentIndex, kind: str, rng):
    """(kind, call, check) for one seeded request. `call()` returns the
    engine's DataFrame; `check(oracle, rows)` compares it with the
    oracle."""
    corpus, idx = sv.corpus, sv.index
    if kind == "keyword":
        text = keyword_text(gen, corpus, rng)
        body = {"query": {"query_string": {"query": text,
                                           "fields": ["content"]}}}
        return kind, (lambda: dsl.es_search(idx, body, size=SIZE)), \
            (lambda o, rows: o.check_match(rows, text, SIZE))
    if kind == "short":
        text = " ".join(C.sample_terms(corpus, rng, int(rng.integers(2, 5))))
        body = {"query": {"match": {"content": text}}}
        return kind, (lambda: dsl.es_search(idx, body, size=SIZE)), \
            (lambda o, rows: o.check_match(rows, text, SIZE))
    if kind == "phrase":
        text = C.sample_phrase(corpus, rng, int(rng.integers(2, 4)))
        body = {"query": {"match_phrase": {"content": text}}}
        return kind, (lambda: dsl.es_search(idx, body, size=SIZE)), \
            (lambda o, rows: o.check_phrase(rows, text, o.tokens, SIZE))
    if kind == "bool":
        a = C.sample_terms(corpus, rng, 2)
        should = " ".join(C.sample_terms(corpus, rng, 2))
        lang = str(C.LANG_EXT[int(rng.integers(len(C.LANG_EXT)))][0])
        body = {"query": {"bool": {
            "must": [{"bool": {"should": [{"match": {"content": a[0]}},
                                          {"match": {"content": a[1]}}]}}],
            "should": [{"match": {"content": should}}],
            "filter": [{"term": {"lang": lang}}]}}}
        return kind, (lambda: dsl.es_search(idx, body, size=SIZE)), \
            (lambda o, rows: o.check_bool(rows, a, should, lang, SIZE))
    if kind == "knn":
        d = int(rng.integers(corpus.n_docs))
        qv = (corpus.embeddings[d]
              + 0.3 * rng.normal(size=C.EMBED_DIM)).tolist()
        text = " ".join(C.sample_terms(corpus, rng, 3))
        body = {"knn": {"field": "embedding", "query_vector": qv,
                        "k": KNN_K, "num_candidates": 50},
                "query": {"match": {"content": text}}}
        return kind, (lambda: dsl.es_search(
            idx, body, size=SIZE, vectors=sv.vectors, ann=sv.graph)), \
            (lambda o, rows: o.check_hybrid(rows, text, qv, o.emb, KNN_K,
                                            SIZE))
    if kind == "msearch":
        k = BATCH_KS[int(rng.integers(len(BATCH_KS)))]
        texts = {str(i): keyword_text(gen, corpus, rng) for i in range(BATCH)}
        bodies = [{"query": {"query_string": {"query": t,
                                              "fields": ["content"]}}}
                  for t in texts.values()]
        sample = {q: texts[q] for q in list(texts)[:2]}
        return kind, (lambda: dsl.es_msearch(idx, bodies, size=k)), \
            (lambda o, rows: o.check_batch(
                [r for r in rows if r["query_id"] in sample], sample, k))
    raise ValueError(kind)


def make_oracle(sv: Served) -> Oracle:
    o = Oracle(sv.corpus.docs)
    o.tokens = {int(d): [str(w) for w in sv.corpus.vocab[t]]
                for d, t in zip(sv.corpus.docs["doc_id"], sv.corpus.tokens)}
    o.emb = dict(zip(sv.corpus.docs["doc_id"].tolist(), sv.corpus.embeddings))
    return o


# -- workloads --------------------------------------------------------------
def serve_mixed(ctx: Ctx) -> Result:
    """Closed loop: every client sends its CLIENT_KINDS sequence over and
    over, each request after the previous reply, and starts no request
    once --seconds have passed (each sends its sequence at least once).
    Throughput sums each client's replies per second of its own run
    (start to last reply), so no client's idle tail counts. One
    request per kind warms up first: a kind's first request compiles its
    query plans."""
    tr = ctx.tracer
    with RssSampler() as rss:
        sv = setup_serving(ctx)
        gen = S.SegmentIndex(ctx.spark, sv.index.index_dir, cache=False)
        ncli = len(os.sched_getaffinity(0))
        warm, ops = Ops(tr), Ops(tr)
        rng = np.random.default_rng([ctx.seed, 99])
        t0 = time.perf_counter()
        in_threads([lambda r=make_request(sv, gen, kind, rng): warm.run(
            r[0], r[1], traced=False) for kind in KINDS])
        setup_s = sv.setup_s + time.perf_counter() - t0
        checked: dict[str, int] = {}
        lock = threading.Lock()

        def want_check(kind):
            with lock:
                n = checked.get(kind, 0)
                if n < CHECKS_PER_KIND:
                    checked[kind] = n + 1
                    return True
                return False

        def client(c: int) -> None:
            rng = np.random.default_rng([ctx.seed, 100 + c])
            kinds = CLIENT_KINDS[c % 2]
            sent = replies = 0
            while sent < len(kinds) or time.perf_counter() < stop:
                kind, call, check = make_request(
                    sv, gen, kinds[sent % len(kinds)], rng)
                rows = ops.run(kind, call, traced=ops.trace_next(kind),
                               check=check if want_check(kind) else None)
                sent += 1
                replies += rows is not None
            rates[c] = replies / (time.perf_counter() - start)

        rates = [0.0] * ncli
        start = time.perf_counter()
        stop = start + ctx.seconds
        in_threads([lambda c=c: client(c) for c in range(ncli)])
    oracle = make_oracle(sv)
    ops.to_check = [(k, rows, (lambda rows, ch=ch: ch(oracle, rows)))
                    for k, rows, ch in ops.to_check]
    ops.verify()
    lat = [x for v in ops.lat.values() for x in v]
    notes = (warm.errors + ops.errors)[:5] + [
        f"clients={ncli} requests={ops.attempted} by_kind="
        + ", ".join(f"{k}:{len(v)}/{np.median(v) * 1e3:.0f}ms"
                    for k, v in sorted(ops.lat.items()))]
    if tr is not None:
        metrics = layer_metrics(tr, ops, index_dir=sv.index.index_dir,
                                hnsw_s=sv.hnsw_s)
    else:
        notes.append(latency_note(lat))
        metrics = end_to_end(setup_s, sum(rates), lat,
                             rss.peak_mb, sv.index_bytes / sv.input_bytes)
    return Result(metrics, warm.attempted + ops.attempted,
                  warm.failed + ops.failed, notes)


def ingest_maintain(ctx: Ctx) -> Result:
    """Set-up: a cold build of the base slice and a few warm-up queries
    over it. Then measured cycles until --seconds have passed (at least
    MIN_CYCLES, so the first, colder cycle is never measured alone).
    Every cycle starts from a copy of the base index, so each one does
    the same amount of work whatever cycles came before it."""
    spark, tr = ctx.spark, ctx.tracer
    rng = np.random.default_rng([ctx.seed, 300])
    base = C.make_corpus(ctx.seed, INGEST_DOCS, mean_len=INGEST_LEN,
                         vocab=ctx.vocab)
    tokens = dict(zip(base.docs["doc_id"].tolist(), base.tokens))
    ops = Ops(tr)
    steps: dict[str, list[float]] = {}
    write_docs = 0
    write_s = 0.0
    n_tomb = 0
    base_dir = os.path.join(ctx.work, "ingest-base")
    with RssSampler() as rss:
        if tr is not None:
            tr.on = True
        t0 = time.perf_counter()
        IB.build_index(base.doc_frame(spark), base_dir, CONTENT_CFG,
                       meta_cols=("lang",))
        if tr is not None:
            tr.on = False
        # warm-up: a query's first run compiles its plans
        warm = Ops(None)
        si = S.SegmentIndex(spark, base_dir)
        oracle = Oracle(base.docs)
        for text in _probe_texts(base.docs, tokens, base.vocab, rng,
                                 WARM_PROBES):
            warm.run("warm_probe", lambda tx=text: dsl.es_search(
                si, {"query": {"match": {"content": tx}}}, size=SIZE),
                traced=False,
                check=lambda rows, tx=text: oracle.check_match(rows, tx, SIZE))
        si.close()
        setup_s = time.perf_counter() - t0
        index_bytes = dir_bytes(base_dir)
        input_bytes = base.input_bytes()
        t_start = time.perf_counter()
        cycle = 0
        while (cycle < MIN_CYCLES
               or time.perf_counter() < t_start + ctx.seconds):
            cycle += 1
            docs, secs, dead = _ingest_cycle(ctx, base, base_dir, cycle, rng,
                                             ops, steps, tr)
            write_docs += docs
            write_s += secs
            n_tomb += dead
    ops.verify()
    warm.verify()
    lat = ops.lat.get("probe", [])
    n_steps = sum(map(len, steps.values()))
    notes = (warm.errors + ops.errors)[:5] + [
        f"cycles={cycle} probes={len(lat)} steps=" + ", ".join(
            f"{k}={np.round(v, 2).tolist()}" for k, v in steps.items())]
    if tr is not None:
        metrics = layer_metrics(tr, ops, index_dir=base_dir,
                                tombstones=n_tomb)
    else:
        notes.append(latency_note(lat))
        metrics = end_to_end(setup_s, write_docs / write_s, lat, rss.peak_mb,
                             index_bytes / input_bytes)
    return Result(metrics, warm.attempted + ops.attempted + n_steps,
                  warm.failed + ops.failed, notes)


def _ingest_cycle(ctx: Ctx, base: C.Corpus, base_dir: str, cycle: int, rng,
                  ops: Ops, steps: dict, tr):
    """One cycle on a copy of the base index: delete ~1 %, probe the
    tombstoned index, compact, build a delta slice and merge it, then
    check the merged index. Returns (files written, seconds of compact +
    delta build + merge, docs deleted)."""
    spark = ctx.spark
    cur = os.path.join(ctx.work, f"ingest-{cycle}")
    shutil.copytree(base_dir, cur)
    live = base.docs
    tokens = dict(zip(base.docs["doc_id"].tolist(), base.tokens))

    def step(name, call):
        dt = _step(tr, call)
        steps.setdefault(name, []).append(dt)
        return dt

    # 1. delete ~1 % of the docs
    dead = rng.choice(live["doc_id"].to_numpy(),
                      size=max(1, int(len(live) * DELETE_FRAC)),
                      replace=False)
    step("delete", lambda: D.delete_docs(spark, cur, dead))
    # 2. probe queries over the tombstoned index, one after another;
    # corpus stats still count the deleted docs until compaction (Lucene
    # semantics), so the oracle ranks over every indexed doc and drops
    # the dead ids
    si = S.SegmentIndex(spark, cur)
    dead_set = {int(x) for x in dead}
    indexed = Oracle(live)
    for text in _probe_texts(live, tokens, base.vocab, rng, PROBES):
        body = {"query": {"match": {"content": text}}}
        ops.run("probe", lambda b=body: dsl.es_search(si, b, size=SIZE),
                traced=ops.trace_next("probe"),
                check=lambda rows, tx=text: check_live(
                    indexed, rows, tx, dead_set))
    si.close()
    live = live[~live["doc_id"].isin(dead_set)]
    first_id = INGEST_DOCS + cycle * DELTA_DOCS
    delta = C.make_corpus(ctx.seed, DELTA_DOCS, first_id=first_id,
                          mean_len=INGEST_LEN, vocab=ctx.vocab)
    comp = cur + "-compact"
    ddir = cur + "-delta"
    merged = cur + "-merged"
    dsrc = delta.doc_frame(spark)
    # 3. compaction; 4. a delta build and its merge
    secs = step("compact", lambda: D.compact_index(spark, cur, comp))
    secs += step("delta_build", lambda: IB.build_index(
        dsrc, ddir, CONTENT_CFG, meta_cols=("lang",)))
    secs += step("merge", lambda: M.merge_indexes(spark, comp, ddir, merged))
    docs = 2 * (len(live) + delta.n_docs)
    live = pd.concat([live, delta.docs], ignore_index=True)
    tokens.update(zip(delta.docs["doc_id"].tolist(), delta.tokens))
    # the merged index must rank like a fresh build of the union
    si = S.SegmentIndex(spark, merged, cache=False)
    union = Oracle(live)
    for text in _probe_texts(live, tokens, base.vocab, rng, MERGED_PROBES):
        ops.run("merged_probe", lambda tx=text: dsl.es_search(
            si, {"query": {"match": {"content": tx}}}, size=SIZE),
            traced=False,
            check=lambda rows, tx=text: union.check_match(rows, tx, SIZE))
    si.close()
    for d in (cur, comp, ddir, merged):
        shutil.rmtree(d, ignore_errors=True)
    return docs, secs, len(dead)


def check_live(oracle: Oracle, rows, text: str, dead: set) -> bool:
    """Top-k over the tombstoned index: no dead id, and exactly the
    oracle's top-(k + T) with the dead ids dropped."""
    want = [p for p in oracle.match(text, SIZE + len(dead))
            if p[0] not in dead][:SIZE]
    got = rows_to_pairs(rows)
    return (not any(d in dead for d, _ in got)
            and [d for d, _ in got] == [d for d, _ in want]
            and all(abs(a - b) <= TOL for (_, a), (_, b) in zip(got, want)))


def _step(tr, call) -> float:
    """Seconds of one write step, traced whenever a tracer is given."""
    if tr is not None:
        tr.on = True
    t0 = time.perf_counter()
    call()
    dt = time.perf_counter() - t0
    if tr is not None:
        tr.on = False
    return dt


def _probe_texts(live, tokens, vocab, rng, n: int) -> list[str]:
    """`n` short queries of 2-4 words drawn from live docs."""
    ids = live["doc_id"].to_numpy()
    out = []
    for _ in range(n):
        toks = tokens[int(ids[int(rng.integers(ids.size))])]
        out.append(" ".join(str(w) for w in
                            vocab[rng.choice(toks, size=int(rng.integers(2, 5)))]))
    return out


WORKLOADS = {"serve_mixed": serve_mixed, "ingest_maintain": ingest_maintain}
