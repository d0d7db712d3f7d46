"""Query engine over the posting-segment index: BM25 top-k.

The read path the reference delegates to ES for every
es.search(size=k) (/root/reference/wapo/experiments/ranking.py:128-139):

  analyzed query terms --broadcast (tiny)-->
  segment scan pruned to the terms' buckets (directory pruning on the
  partition column) + term predicate pushdown (parquet row-group stats)
  --groupBy(doc_part).applyInPandas--> per-doc-range top-k
  (doc ranges are disjoint doc sets, so per-range scores are complete)
  --global orderBy(score desc, doc_id asc).limit(k)--> final top-k

Two scorer modes, asserted identical in tests:
  taat — exact term-at-a-time: vectorized numpy accumulation
         (decode -> idf*tf_norm -> np.add.at per doc). The default.
  wand — block-max WAND: doc-at-a-time pivoting with per-block score
         upper bounds; rank-safe pruning (skips blocks that cannot beat
         the running top-k threshold). The 100 TB path: on hot terms the
         threshold rises fast and whole blocks are skipped.

Determinism contract (rank-identity across parallelism levels,
SURVEY.md §7.3): float64 scoring, per-doc term summation in sorted-term
order, tie-break (score desc, doc_id asc).
"""

from __future__ import annotations

import heapq
import json
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.codec import (decode_positions, decode_postings, lucene_idf,
                               tf_norm)
from ..oracle import pure
from ..config import AnalyzerConfig
from .index_build import term_bucket

TOPK_SCHEMA = "doc_id bigint, score double"
RANKED_SCHEMA = "rank bigint, doc_id bigint, score double"
# the segment columns the taat scorers read
_SCORE_COLS = ("doc_part", "term", "docs", "tfs", "dls", "block_last",
               "block_max")
PHRASE_CAND_SCHEMA = "doc_id bigint, occ bigint, dl bigint"

# Phrase-candidate rows are bounded by the min posting df of the phrase's
# required terms (a doc containing the phrase contains every term) — known
# driver-locally from the term dictionary BEFORE any job. Applies only
# above SEARCH_DRIVER_CAP (below it the phrase paths read on the driver
# with no job): under this cap the distributed matcher's candidates are
# gathered to the driver in one job and scored over a local relation;
# above it (a hot phrase at 100x scale) the candidate relation stays
# distributed. 2^17 rows of (3 x int64) ~ 3 MB.
PHRASE_DRIVER_CAP = 1 << 17

# Bool-query candidate cap: the result set is bounded by the most
# selective must clause's doc coverage (sum of its terms' dfs — known
# from the term dictionary before any job); under this cap candidates
# are intersected per part and only they are scored. Above it (every
# must clause hot at 100x scale) the distributed semi-join plan runs.
# Flat search_bool only; the nested-bool tree (search_bool_tree) takes
# the SEARCH_DRIVER_CAP placement rule.
BOOL_DRIVER_CAP = 1 << 17

# search_many driver-merge cap on the PROVEN per-part top-k output bound
# (n_parts * n_queries * k rows). Applies only above SEARCH_DRIVER_CAP
# (below it the batch is scored on the driver with no job): under this
# cap the batch finishes with one distributed stage + a driver merge;
# above it the per-query window runs.
MANY_DRIVER_CAP = 1 << 21
#: driver regime — the one placement rule of search, search_many, the
#: phrase paths and the nested-bool tree (SegmentIndex._driver_ok): on a
#: warm handle, when the PROVEN read volume (Σdf of the terms whose
#: postings are read, Σcf of those whose positions are read, n_docs when
#: the doc store is read — all known from the dictionary before any job)
#: fits the cap, read the pruned segment rows with a driver-local
#: pyarrow scan of the terms' bucket directories (no Spark job) and run
#: the SAME per-part closure on the driver. 2^19 postings decode
#: to ~24 B/posting of int64 numpy (docs+tfs+dls) ≈ 13 MB transient —
#: fixed-width and bounded (the element-based guard style VERDICT r4
#: asked for). The calibration below was measured when the driver regime
#: still gathered its rows with one Spark job (~85 ms of fixed cost per
#: query that the pyarrow read removed); the cap has not been retuned.
#: Cap calibration, measured on the 800k-doc index (warm, local[8]):
#: the distributed single-query job is overhead-bound at ~1.15 s
#: regardless of size (~50 small tasks of scheduling + Arrow worker
#: round-trips), the driver path runs ~0.3 s + ~0.15 s/M postings — so
#: for SEQUENTIAL latency the driver wins up to ~5M postings. But the
#: driver path is core-count-independent and GIL-serialized across
#: concurrent submitters: at 2^22 the hot 1.4-2.4M-posting probe
#: queries ran driver-side and 8-submitter throughput at local[8] FELL
#: 1.03 -> 0.62 qps while local[2] rose 0.56 -> 0.72 (the crossover
#: depends on cores the guard cannot see). 2^19 keeps typical queries
#: (the sf0.1 suite's whole dictionary is far below it) on the ~0.35 s
#: driver floor and routes hot disjunctions to the distributed plan,
#: which scales with executors — the only shape that matters at
#: 10^12-doc scale, where every hot term exceeds any driver cap anyway.
#: WAND stays distributed at EVERY size: its per-part block loop is
#: Python-sequential and needs executor parallelism (measured 2.4-6 s
#: driver-side vs 1.15 s distributed — rejected by measurement).
SEARCH_DRIVER_CAP = 1 << 19

# Tombstone exclusion regimes (plans.delete): dead ids inline as an isin
# literal up to this count; beyond it they join as a broadcast anti-join
# relation. Element-based: ids are fixed-width int64 rows.
DELETED_ISIN_CAP = 1 << 14
# Driver-local tombstone gather cap in BYTES of the sidecar's parquet
# files (~8-10 B per int64 row => ~2^25 ids at the default). Above it
# the dead set stays a distributed relation (an operational smell —
# compact_index is the cure — but never a wrong answer).
DELETED_DRIVER_BYTES_CAP = 1 << 28


def _make_clause_intersector(must_clauses: list[list[str]],
                             must_not: list[str],
                             should: list[str] | None = None,
                             msm: int = 0):
    """Per-doc_part bool-candidate emitter for applyInPandas: decode the
    scanned terms' postings once, emit docs containing >= 1 term of EVERY
    must clause, >= msm distinct `should` terms (when msm > 0), and none
    of must_not. A doc's postings all live in one doc_part, so every
    constraint is per-part decidable (the same locality the phrase
    matcher uses) — candidates flow out, postings never shuffle."""

    def intersect_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64)})
        docsets: dict[str, np.ndarray] = {}
        for row in pdf.itertuples(index=False):
            ids, _, _ = decode_postings(row.docs, row.tfs, row.dls)
            docsets[row.term] = ids
        cur = None
        for clause in must_clauses:
            arrs = [docsets[t] for t in clause if t in docsets]
            if not arrs:
                return empty  # no clause term in this range -> no matches
            cd = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
            cur = cd if cur is None else cur[np.isin(cur, cd)]
            if cur.size == 0:
                return empty
        if msm > 0:
            # posting doc-ids are unique per term, so concat counts ==
            # distinct-should-term matches per doc
            arrs = [docsets[t] for t in (should or []) if t in docsets]
            if len(arrs) < msm:
                return empty
            uniq, cnt = np.unique(np.concatenate(arrs), return_counts=True)
            qual = uniq[cnt >= msm]
            cur = qual if cur is None else cur[np.isin(cur, qual)]
            if cur.size == 0:
                return empty
        for t in must_not:
            if t in docsets and cur.size:
                cur = cur[~np.isin(cur, docsets[t])]
        return pd.DataFrame({"doc_id": cur})

    return intersect_group


def _meta_filter_pred(meta_clauses: list[tuple]):
    """Catalyst predicate for ES filter-context metadata clauses
    (term / terms / range over doc-store columns). Returned Column is
    applied directly to the doc_store scan, so it pushes down to parquet
    (row-group stats prune; `.explain` shows PushedFilters)."""
    conds = []
    for kind, col, spec in meta_clauses:
        c = F.col(col)
        if kind == "term":
            # ES accepts both {"term": {f: v}} and {"term": {f:
            # {"value": v}}} — unwrap the long form
            v = spec.get("value") if isinstance(spec, dict) else spec
            conds.append(c == v)
        elif kind == "terms":
            conds.append(c.isin(list(spec)))
        elif kind == "exists":
            conds.append(c.isNotNull())
        elif kind == "range":
            ops = {"gte": c.__ge__, "gt": c.__gt__,
                   "lte": c.__le__, "lt": c.__lt__}
            for op, v in spec.items():
                if op not in ops:
                    raise ValueError(f"unsupported range op: {op}")
                conds.append(ops[op](v))
        else:
            raise ValueError(f"unsupported metadata filter kind: {kind}")
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _make_bool_taat(must_clauses: list[list[str]], must_not: list[str],
                    should: list[str], msm: int, scoring_terms: list[str],
                    idf_map: dict[str, float], *, k1: float, b: float,
                    avgdl: float, k: int | None, cogrouped: bool = False,
                    zero_fill: bool = False):
    """Combined constraint-intersection + candidate-restricted scoring for
    the ABOVE-CAP bool regime (VERDICT r4 #1): one applyInPandas pass per
    doc_part that (a) decodes every scanned term's postings ONCE, (b)
    intersects the bool constraints into a candidate doc set, (c)
    accumulates BM25 over the scoring terms restricted to candidates — in
    sorted-term order, so surviving docs' float64 sums are bit-identical
    to score_all / _scores_for_docs — and (d) cuts to a margin-safe
    per-part top-k: every kept doc has unrounded score >= (k-th score -
    1e-6). 6dp HALF_UP rounding moves a value by < 5e-7 and is monotone,
    so a dropped doc rounds strictly below at least k kept docs and can
    never reach the rounded top-k (tie-break included). A hot should-term
    therefore contributes only candidate postings to the accumulator and
    at most ~k rows per part to the shuffle — never its full posting
    relation (the ES WAND-across-the-combined-scorer contract, SURVEY
    §2.4, expressed as intersection-first pruning).

    `cogrouped=True` returns a two-frame fn for
    `seg.cogroup(allowed)`-style applyInPandas: the right frame carries
    the doc_ids admitted by a metadata filter (ES filter context) for
    this doc_part; candidates intersect it (or START from it when there
    are no term constraint clauses — an ES bool whose only constraints
    are filters matches every admitted doc).

    `zero_fill=True` (set when the TRUE must set is empty but filter
    clauses exist) emits candidates matching no scoring term with score
    0.0 — ES filter-context hits score 0 and with a filter present
    minimum_should_match defaults to 0, so filter-admitted docs that
    match no should term are still hits. BM25 partials are strictly
    positive (lucene idf > 0, tf_norm > 0), so zero-score docs rank
    below every scored doc and tie among themselves on doc_id asc:
    emitting only the k smallest zero-score doc_ids per part is exact."""

    def _score(pdf: pd.DataFrame, allowed) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float64)})
        decoded: dict[str, tuple] = {}
        for row in pdf.itertuples(index=False):
            decoded[row.term] = decode_postings(row.docs, row.tfs, row.dls)
        cur = None
        for clause in must_clauses:
            arrs = [decoded[t][0] for t in clause if t in decoded]
            if not arrs:
                return empty  # no clause term in this range -> no matches
            cd = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
            cur = cd if cur is None else cur[np.isin(cur, cd)]
            if cur.size == 0:
                return empty
        if allowed is not None:
            # metadata-filter admitted set for this part (sorted): the
            # candidate BASE when no term constraints exist, an
            # intersection otherwise
            cur = allowed if cur is None else cur[np.isin(cur, allowed)]
            if cur.size == 0:
                return empty
        if cur is None:
            # pure-should: candidates = docs matching >= 1 should term
            arrs = [decoded[t][0] for t in should if t in decoded]
            if not arrs:
                return empty
            cur = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        if msm > 0:
            arrs = [decoded[t][0] for t in should if t in decoded]
            if len(arrs) < msm:
                return empty
            uniq, cnt = np.unique(np.concatenate(arrs), return_counts=True)
            cur = cur[np.isin(cur, uniq[cnt >= msm])]
            if cur.size == 0:
                return empty
        for t in must_not:
            if t in decoded and cur.size:
                cur = cur[~np.isin(cur, decoded[t][0])]
        if cur.size == 0:
            return empty
        all_ids, all_scores = [], []
        for t in scoring_terms:  # pre-sorted: deterministic accumulation
            if t not in decoded:
                continue
            ids, tfs, dls = decoded[t]
            keep = np.isin(ids, cur)
            if not keep.any():
                continue
            contrib = idf_map[t] * tf_norm(
                tfs[keep].astype(np.float64), dls[keep].astype(np.float64),
                k1=k1, b=b, avgdl=avgdl,
            )
            all_ids.append(ids[keep])
            all_scores.append(contrib)
        if not all_ids:
            if not zero_fill:
                return empty
            uniq = np.empty(0, dtype=np.int64)
            acc = np.empty(0, dtype=np.float64)
        else:
            ids = np.concatenate(all_ids)
            uniq, inv = np.unique(ids, return_inverse=True)
            acc = np.zeros(uniq.size)
            np.add.at(acc, inv, np.concatenate(all_scores))
        if zero_fill:
            # cur is ascending (posting decode order / np.unique /
            # order-preserving masks), so cur-minus-scored's first k
            # entries ARE the k smallest zero-score doc_ids
            missing = cur[~np.isin(cur, uniq)]
            if missing.size:
                take = missing[:k] if k is not None else missing
                uniq = np.concatenate([uniq, take])
                acc = np.concatenate([acc, np.zeros(take.size)])
        if uniq.size == 0:
            return empty
        if k is not None and uniq.size > k:
            kth = np.partition(acc, uniq.size - k)[uniq.size - k]
            keep = acc >= kth - 1e-6
            uniq, acc = uniq[keep], acc[keep]
        return pd.DataFrame({"doc_id": uniq, "score": acc})

    if cogrouped:
        def score_cogroup(left: pd.DataFrame,
                          right: pd.DataFrame) -> pd.DataFrame:
            if not len(right):  # no doc in this part passes the filter
                return pd.DataFrame({
                    "doc_id": pd.Series([], dtype=np.int64),
                    "score": pd.Series([], dtype=np.float64),
                })
            return _score(
                left, np.sort(right["doc_id"].to_numpy(np.int64)))

        return score_cogroup

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score(pdf, None)

    return score_group


def _make_groups_taat(groups: list[list[list[str]]],
                      idf_map: dict[str, float], *, k1: float, b: float,
                      avgdl: float, k: int | None):
    """Per-doc_part scorer for an OR of AND-groups (ES mixed AND/OR
    query_string, AND binds tighter): for each group, intersect its
    clauses into a candidate set, accumulate BM25 over the group's
    tokens restricted to those candidates, then sum the group partials
    per doc — Lucene BooleanQuery-of-conjunctions semantics, where a
    token occurring in several matched groups contributes once PER
    GROUP. Postings decode once per term; accumulation order is (group
    order, sorted tokens within group) — deterministic. The same
    margin-safe per-part top-k cut as _make_bool_taat bounds the
    emitted relation (proof there)."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float64)})
        decoded: dict[str, tuple] = {}
        for row in pdf.itertuples(index=False):
            decoded[row.term] = decode_postings(row.docs, row.tfs, row.dls)
        all_ids, all_scores = [], []
        for clauses in groups:
            cur = None
            dead = False
            for clause in clauses:
                arrs = [decoded[t][0] for t in clause if t in decoded]
                if not arrs:
                    dead = True  # a required clause absent from this range
                    break
                cd = (arrs[0] if len(arrs) == 1
                      else np.unique(np.concatenate(arrs)))
                cur = cd if cur is None else cur[np.isin(cur, cd)]
                if cur.size == 0:
                    dead = True
                    break
            if dead or cur is None or cur.size == 0:
                continue
            for t in sorted({t for c in clauses for t in c}):
                if t not in decoded:
                    continue
                ids, tfs, dls = decoded[t]
                keep = np.isin(ids, cur)
                if not keep.any():
                    continue
                contrib = idf_map[t] * tf_norm(
                    tfs[keep].astype(np.float64),
                    dls[keep].astype(np.float64),
                    k1=k1, b=b, avgdl=avgdl,
                )
                all_ids.append(ids[keep])
                all_scores.append(contrib)
        if not all_ids:
            return empty
        ids = np.concatenate(all_ids)
        uniq, inv = np.unique(ids, return_inverse=True)
        acc = np.zeros(uniq.size)
        np.add.at(acc, inv, np.concatenate(all_scores))
        if k is not None and uniq.size > k:
            kth = np.partition(acc, uniq.size - k)[uniq.size - k]
            keep = acc >= kth - 1e-6
            uniq, acc = uniq[keep], acc[keep]
        return pd.DataFrame({"doc_id": uniq, "score": acc})

    return score_group


def _local_frame(spark: SparkSession, pdf: pd.DataFrame,
                 schema=RANKED_SCHEMA) -> DataFrame:
    """A driver-built result as a DataFrame whose collect() runs no Spark
    job: the rows go to the JVM as an Arrow table and become a local
    relation. A frame built from a Python list (or from an EMPTY pandas
    frame, which PySpark converts to a list) is a parallelized Python RDD
    instead, and every collect() of it launches a Python-worker job."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, preserve_index=False), schema)


def _score_rows(rows) -> pd.DataFrame:
    """Collected (doc_id, score) rows as a typed pandas frame."""
    return pd.DataFrame({
        "doc_id": np.array([r[0] for r in rows], dtype=np.int64),
        "score": np.array([r[1] for r in rows], dtype=np.float64)})


def _eager_topk(rel: DataFrame, out: DataFrame,
                schema: str = RANKED_SCHEMA) -> DataFrame:
    """Materialize a (tiny, <= k rows) top-k result and release the
    persisted intermediate `rel` — phrase/bool search persist a candidate
    relation shared by a stats action and the scoring plan, and a lazy
    return would leak that cache in long-lived sessions (e.g. the
    incremental-index stream that queries every batch)."""
    pdf = out.toPandas()
    rel.unpersist()
    return _local_frame(out.sparkSession, pdf, schema)


class SegmentIndex:
    """Handle over an index directory written by plans.index_build."""

    def __init__(self, spark: SparkSession, index_dir: str, cache: bool = True):
        """cache=True pins the segment and term-stats tables in executor
        memory after first touch — the "warm engine" of the BASELINE p95
        metric. cache=False scans parquet per query (directory pruning on
        bucket + term pushdown keep that cheap too)."""
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        self.analyzer = AnalyzerConfig(
            stopwords=frozenset(self.stats["stopwords"]),
            min_token_len=int(self.stats["min_token_len"]),
            mode=self.stats.get("analyzer_mode", "code"),
        )
        from .index_build import SEGMENT_SCHEMA

        # term -> (df, cf), published as one tuple per term
        self._term_cache: dict[str, tuple[int, int]] = {}
        self._tstats = self._read_or_empty(
            os.path.join(self.index_dir, "term_stats"),
            "term string, df bigint, cf bigint, bucket int",
        )
        full = self._read_or_empty(
            os.path.join(self.index_dir, "segments"), SEGMENT_SCHEMA
        )
        # Split caches: the HOT segment relation excludes the positions
        # sidecar, so disjunction/bool/dismax workloads never materialize
        # (or pin in executor memory) position blobs — column pruning that
        # actually reaches the cache, not just the scan. The positional
        # relation is persisted lazily on first phrase query.
        self._segments = full.select(
            "bucket", "doc_part", "term", "df", "cf",
            "docs", "tfs", "dls", "block_last", "block_max",
        )
        self._pos_segments_df = full.select(
            "bucket", "doc_part", "term", "docs", "tfs", "dls", "positions"
        )
        self._cache = cache
        self._pos_cached = False
        self._pos_lock = threading.Lock()
        # tombstone memo: (sidecar file listing, (T, ids, dead_df)),
        # published as ONE tuple so a concurrent reader never pairs a new
        # listing with a stale id set
        self._tomb_memo: tuple = (None, (0, None, None))
        if cache:
            self._tstats = self._tstats.persist()
            self._segments = self._segments.persist()

    def _pos_segments(self) -> DataFrame:
        """Positional segment relation (phrase paths only); persisted on
        first touch when caching is on — its lifecycle is separate from
        the hot cache so non-phrase sessions never pay its memory."""
        with self._pos_lock:
            if self._cache and not self._pos_cached:
                self._pos_segments_df = self._pos_segments_df.persist()
                self._pos_cached = True
            return self._pos_segments_df

    def close(self) -> None:
        """Release every cache this handle pinned (hot segments, term
        stats, the lazy positional sidecar). Long-lived sessions that
        open many indexes (e.g. per-field DisMax over rotating indexes)
        call this when an index is retired; the handle stays usable —
        subsequent queries re-read parquet uncached."""
        if self._cache:
            self._segments.unpersist()
            self._tstats.unpersist()
            with self._pos_lock:
                if self._pos_cached:
                    self._pos_segments_df.unpersist()
                    self._pos_cached = False
        dead_df = self._tomb_memo[1][2]
        if dead_df is not None:  # distributed-dead regime relation
            dead_df.unpersist()
            self._tomb_memo = (None, (0, None, None))
        self._cache = False

    def _read_or_empty(self, path: str, schema: str):
        """Parquet read with an explicit schema so empty/absent directories
        (an index built from zero matching docs) behave as empty tables."""
        try:
            return self.spark.read.schema(schema).parquet(path)
        except Exception:
            return self.spark.createDataFrame([], schema)

    # -- query formulation ------------------------------------------------
    def analyze_query(self, text: str) -> list[str]:
        """Query-side analysis uses the same spec the index was built with
        (write/read analyzer unity — the reference gets this from ES by
        construction; we get it from stats.json)."""
        return pure.analyze(text, self.analyzer)

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global df per query term.

        Fast path: a DRIVER-LOCAL pyarrow read of the term_stats parquet,
        pruned to the terms' bucket partitions with the term predicate
        pushed to row groups (files are term-sorted). This is the Lucene
        term-dictionary-lookup shape — a local index structure, not a
        cluster job. The same read memoizes each term's cf (the driver
        regimes' position volume). Results memoize on the handle
        (repeat queries skip the read entirely).
        Falls back to a pruned Spark scan if pyarrow/local-FS access is
        unavailable (e.g. a remote object-store index).
        """
        return {t: s[0] for t, s in self._term_stats(terms).items()}

    def _term_stats(self, terms) -> dict[str, tuple[int, int]]:
        """(df, cf) per term, memoized on the handle — term_dfs's read."""
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            cols = ["term", "df", "cf"]
            try:
                pdf = self._read_buckets("term_stats", missing, cols)
            except Exception:
                pdf = (self._tstats.filter(F.col("term").isin(missing))
                       .select(*cols).toPandas())
            got = {t: (int(d), int(c))
                   for t, d, c in zip(pdf["term"], pdf["df"], pdf["cf"])}
            for t in missing:
                self._term_cache[t] = got.get(t, (0, 0))
        return {t: self._term_cache[t] for t in terms}

    def _driver_ok(self, terms=(), pos_terms=(), doc_store=False) -> bool:
        """The driver regimes' one placement rule: a warm handle whose
        read volume, proven from the dictionary before any read, fits
        SEARCH_DRIVER_CAP — Σdf of the terms whose postings are read,
        plus Σ(df+cf) of those whose postings and positions are read,
        plus n_docs when the doc store is read."""
        if not self._cache:
            return False
        st = self._term_stats(list(terms) + list(pos_terms))
        vol = (sum(st[t][0] for t in terms)
               + sum(sum(st[t]) for t in pos_terms)
               + (int(self.stats["n_docs"]) if doc_store else 0))
        return vol <= SEARCH_DRIVER_CAP

    def _per_part_local(self, fn, terms: list[str],
                        cols: list[str]) -> pd.DataFrame | None:
        """The driver form of `_by_part(seg).applyInPandas(fn, ...)`: the
        SAME per-doc_part closure over a pyarrow read of the terms'
        segment rows. None when no row was read."""
        pdf = self._read_buckets("segments", terms, cols)
        outs = [fn(g) for _, g in pdf.groupby("doc_part", sort=True)]
        return pd.concat(outs, ignore_index=True) if outs else None

    def _read_buckets(self, table: str, terms: list[str],
                      columns: list[str]) -> pd.DataFrame:
        """Driver-local pyarrow read of the rows of `table` (term_stats or
        segments) whose term is in `terms`: only the terms' bucket=<b>
        directories are opened, and the term predicate is pushed to
        row groups (files are term-sorted). No Spark job; repeat reads
        are served from the OS page cache."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        n_buckets = int(self.stats["n_buckets"])
        root = os.path.join(self.index_dir, table)
        parts = []
        for bkt in sorted({term_bucket(t, n_buckets) for t in terms}):
            bdir = os.path.join(root, f"bucket={bkt}")
            if os.path.isdir(bdir):
                parts.append(pq.read_table(
                    bdir, columns=columns,
                    filters=pc.field("term").isin(terms)))
        if not parts:
            return pd.DataFrame(columns=columns)
        return pa.concat_tables(parts).to_pandas()

    def warm(self, positions: bool = False) -> "SegmentIndex":
        """Materialize the cached segment + term-stats tables (one pass) so
        first queries don't pay lazy cache population — the 'warm engine'
        precondition of the p95 metric (BASELINE.md). positions=True also
        warms the positional sidecar cache (phrase-serving deployments);
        the default leaves it lazy so pure-disjunction sessions never
        touch position blobs."""
        self._segments.count()
        self._tstats.count()
        if positions and self.stats.get("with_positions"):
            self._pos_segments().count()
        return self

    def doc_store(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "doc_store"))

    def get_docs(self, doc_ids: list[int]) -> DataFrame:
        """Point lookups by id (the reference's es.get, SURVEY S6):
        an isin filter over the doc store — parquet row-group stats prune.
        Tombstoned ids return no row (the ES 404 on a deleted id)."""
        out = self.doc_store().filter(F.col("doc_id").isin(list(doc_ids)))
        return self._exclude_dead(out)

    # -- deletes (plans.delete tombstone sidecar) ---------------------------
    def _tombstone_listing(self) -> tuple:
        tdir = os.path.join(self.index_dir, "tombstones")
        try:
            return tuple(sorted(
                (e.name, e.stat().st_size) for e in os.scandir(tdir)
                if e.name.endswith(".parquet")))
        except FileNotFoundError:
            return ()

    def _tombstones(self) -> tuple:
        """(T, ids, dead_df) for the index's tombstone sidecar, memoized
        on the sidecar's file listing (a new delete invalidates it).

        T = distinct tombstone count. ids = sorted int64 numpy of the
        dead ids when the sidecar fits the driver gather cap (the normal
        regime between compactions), else None with dead_df a distributed
        distinct relation (the huge-backlog regime)."""
        sig = self._tombstone_listing()
        memo_sig, tomb = self._tomb_memo
        if sig == memo_sig:
            return tomb
        tdir = os.path.join(self.index_dir, "tombstones")
        if not sig:
            tomb = (0, None, None)
        elif sum(s for _, s in sig) <= DELETED_DRIVER_BYTES_CAP:
            import pyarrow.parquet as pq

            tbl = pq.read_table(tdir, columns=["doc_id"])
            ids = np.unique(tbl["doc_id"].to_numpy(zero_copy_only=False)
                            .astype(np.int64))
            tomb = (int(ids.size), ids, None)
        else:
            dead_df = (self.spark.read.parquet(tdir)
                       .select(F.col("doc_id").cast("bigint").alias("doc_id"))
                       .distinct().persist())
            tomb = (int(dead_df.count()), None, dead_df)
        self._tomb_memo = (sig, tomb)
        return tomb

    def n_deleted(self) -> int:
        """Distinct live tombstones (0 when none were ever written)."""
        return self._tombstones()[0]

    def _exclude_dead(self, df: DataFrame) -> DataFrame:
        """Drop tombstoned doc_ids from a relation: isin literal for small
        dead sets, broadcast anti-join above DELETED_ISIN_CAP, plain
        anti-join in the distributed-dead regime."""
        T, ids, dead_df = self._tombstones()
        if not T:
            return df
        if ids is not None and T <= DELETED_ISIN_CAP:
            return df.filter(~F.col("doc_id").isin([int(i) for i in ids]))
        if ids is not None:
            dead_df = self.spark.createDataFrame(
                pd.DataFrame({"doc_id": ids}), "doc_id bigint")
            dead_df = F.broadcast(dead_df)
        return df.join(dead_df, "doc_id", "left_anti")

    def _live(self, k: int, run) -> DataFrame:
        """EXACT tombstone exclusion for any ranked query (Lucene
        semantics: deleted docs vanish from results immediately; corpus
        stats stay frozen until compact_index). run(k') must return rows
        carrying a dense 0-based `rank` (optionally per query_id). At
        most T dead docs can precede the k-th live hit, so top-(k+T)
        over-fetch + drop + re-rank is provably the live top-k. T=0 (the
        only state every pre-delete caller sees) short-circuits.

        With the dead ids on the driver and k+T <= DELETED_ISIN_CAP, the
        over-fetched rows are collected, the dead ones dropped against
        the sorted id array and the rest re-ranked in pandas — a driver
        regime result stays job-free. Otherwise a Spark window re-ranks
        the excluded relation."""
        T, ids, _ = self._tombstones()
        if not T:
            return run(k)
        out = run(k + T)
        cols = out.columns
        keys = ["query_id"] if "query_id" in cols else []
        if ids is not None and k + T <= DELETED_ISIN_CAP:
            pdf = pd.DataFrame(out.collect(), columns=cols)
            pdf = pdf[~np.isin(pdf["doc_id"].to_numpy(np.int64), ids)]
            pdf = pdf.sort_values(keys + ["rank"], kind="mergesort")
            pdf["rank"] = (pdf.groupby(keys).cumcount() if keys
                           else np.arange(len(pdf)))
            return _local_frame(self.spark, pdf[pdf["rank"] < k], out.schema)
        out = self._exclude_dead(out)
        w = (Window.partitionBy(*keys) if keys else Window).orderBy(
            F.asc("rank"))
        return (
            out.withColumn("rank",
                           (F.row_number().over(w) - 1).cast("bigint"))
            .filter(F.col("rank") < k)
            .select(*cols)
        )

    def _by_part(self, df: DataFrame):
        """Group a pruned per-part relation by doc_part with an EXPLICIT
        shuffle width. Few, similar-sized doc_part groups hashed into the
        session's shuffle.partitions straggle: 25 groups into 8
        partitions leaves some tasks carrying 4-5 groups, so the stage
        runs at ~2x the mean task time (measured 60.6 -> 105.9 qps on
        the 200-query batch at local[8] just by widening). Width =
        max(session shuffle partitions, min(4*n_parts, 8*cores)): ~4
        buckets per group keeps the expected max load at 1-2 groups per
        task; the core-count cap keeps huge-corpus widths deferring to
        the session conf (a tuned cluster sets shuffle.partitions
        itself). An explicit repartition(N, key) satisfies the groupBy's
        ClusteredDistribution, so NO second exchange is added
        (plan-asserted in tests), and AQE never coalesces a
        user-specified width."""
        n_parts = max(1, -(-int(self.stats["n_docs"])
                           // int(self.stats["doc_range"])))
        dp = self.spark.sparkContext.defaultParallelism
        conf = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        width = max(conf, min(4 * n_parts, 8 * dp))
        if width <= conf:
            return df.groupBy("doc_part")
        return df.repartition(width, "doc_part").groupBy("doc_part")

    # -- retrieval ---------------------------------------------------------
    def search(self, query, k: int, mode: str = "taat",
               with_meta: bool = False, after: tuple | None = None,
               _raw: bool = False) -> DataFrame:
        """OR-disjunction BM25 top-k. `query` = raw text or list of terms.

        Returns (rank, doc_id, score); empty if no term matches.
        with_meta=True joins the doc store (the `_source` the reference
        reads off every hit) — a broadcast join of k rows.
        after=(score, doc_id) is an ES search_after cursor (the
        (sort-values) of the previous page's LAST hit): only docs
        strictly after it in (score desc, doc_id asc) order return,
        re-ranked from 0 — EXACT deep pagination that, unlike from+size,
        never re-materializes the skipped prefix: the cursor cut runs
        INSIDE the per-part scorers (per-part scores are final — doc
        ranges are disjoint and float64 sums are order-pinned), so each
        part emits at most k post-cursor rows no matter how deep the
        page. Tombstoned docs (plans.delete) never appear; _raw=True
        skips the exclusion (internal regime probes only).

        Two regimes on the PROVEN posting volume (sum of the query
        terms' dfs, read from the dictionary before any job): taat
        queries on a warm index under SEARCH_DRIVER_CAP read the pruned
        segment rows with a driver-local pyarrow scan of the terms'
        bucket directories and run the same per-part scorer on the
        driver — no Spark job at all (with_meta's doc-store join aside);
        above the cap, with cache off, or in wand mode the distributed
        scan→shuffle→applyInPandas plan runs. Both regimes are
        row/score-identical (pytest-pinned).
        """
        if after is not None:
            after = (float(after[0]), int(after[1]))
        if not _raw and self.n_deleted():
            out = self._live(k, lambda kk: self.search(
                query, kk, mode=mode, after=after, _raw=True))
            return self._with_meta(out) if with_meta else out
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        terms = sorted(set(terms))
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        n_buckets = int(self.stats["n_buckets"])

        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t, 0) > 0]
        if not terms:
            return self._empty()

        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in terms}
        scorer = _make_scorer(idf_map, k1=k1, b=b, avgdl=avgdl, k=k,
                              mode=mode, after=after)
        cols = list(_SCORE_COLS)
        if mode == "taat" and self._driver_ok(terms):
            # driver regime (warm engine only): the pruned segment rows
            # (bytes blobs, ~1 B/posting) come straight from the parquet
            # files, then the SAME scorer closure runs per doc_part on
            # the driver — per-part outputs and the (raw score desc,
            # doc_id asc) global cut are bit-identical to the distributed
            # plan (pytest-pinned), with no Spark job. Bound proven from
            # the dictionary before any read; above the cap (every
            # hot-term disjunction at 10^12-doc scale) the distributed
            # plan below runs unchanged.
            cand = self._per_part_local(scorer, terms, cols)
            out = (self._empty() if cand is None
                   else self._cut_topk(cand, k))
            return self._with_meta(out) if with_meta else out
        buckets = sorted({term_bucket(t, n_buckets) for t in terms})
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))       # directory pruning
            .filter(F.col("term").isin(terms))           # row-group pushdown
            .select(*cols)
        )
        per_part = self._by_part(seg).applyInPandas(scorer, TOPK_SCHEMA)
        topk = per_part.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        out = topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score",
        )
        return self._with_meta(out) if with_meta else out

    def _with_meta(self, out: DataFrame) -> DataFrame:
        """Join a ranked result to the doc store (the hits' `_source`)."""
        return out.join(self.doc_store(), "doc_id", "left").orderBy("rank")

    def _empty(self, schema: str = RANKED_SCHEMA) -> DataFrame:
        """An empty result (flat DDL `schema`) built from a zero-row Arrow
        table, so its collect() runs no Spark job. Call it only on the
        branch that returns it: each createDataFrame is a py4j round-trip
        (~10-20 ms)."""
        import pyarrow as pa

        names = [f.split()[0] for f in schema.split(",")]
        return self.spark.createDataFrame(
            pa.table({n: pa.nulls(0) for n in names}), schema)

    def _cut_topk(self, cand, k: int) -> DataFrame:
        """The driver regimes' one top-k cut: (doc_id, score) rows ordered
        by score desc, doc_id asc, the first k numbered 0.. as `rank`, in
        a job-free local frame. `cand` is a pandas frame or a Spark
        projection over a local relation, whose collect() the optimizer
        evaluates on the driver (ConvertToLocalRelation) without a job."""
        if isinstance(cand, DataFrame):
            cand = _score_rows(cand.collect())
        cand = (cand.sort_values(["score", "doc_id"], ascending=[False, True],
                                 kind="mergesort")
                .head(k).reset_index(drop=True))
        cand.insert(0, "rank", np.arange(len(cand), dtype=np.int64))
        return _local_frame(self.spark, cand)

    def expand_prefix(self, prefix: str, max_expansions: int = 50) -> list[str]:
        """Terms in the dictionary starting with `prefix`, ordered by
        descending df then term (ES prefix-query expansion order), capped
        at max_expansions (the ES default 50). A pruned scan of the tiny
        term_stats table — startsWith pushes to parquet as a range filter
        on the sorted term column."""
        rows = (
            self._tstats
            .filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def search_prefix(self, prefix: str, k: int, *,
                      max_expansions: int = 50,
                      mode: str = "taat") -> DataFrame:
        """Prefix query (ES `prefix` / the expansion step of
        match_phrase_prefix): expand the prefix against the term
        dictionary, then run the expanded OR-disjunction through the
        normal BM25 engine. Expansion is bounded exactly like ES
        (max_expansions) so a hot prefix ('re', 'get') cannot explode the
        query into the whole vocabulary."""
        terms = self.expand_prefix(prefix, max_expansions)
        if not terms:
            return self.spark.createDataFrame(
                [], "rank bigint, doc_id bigint, score double"
            )
        return self.search(terms, k, mode=mode)

    def expand_wildcard(self, pattern: str,
                        max_expansions: int = 50) -> list[str]:
        """Terms matching an ES wildcard pattern (`*` = any run, `?` = one
        char), ordered (df desc, term asc), capped at max_expansions. The
        pattern compiles to an anchored regex evaluated JVM-side (rlike);
        a leading literal prefix (everything before the first wildcard)
        additionally prunes the dictionary scan to a term range."""
        import re as _re

        regex = "^" + "".join(
            ".*" if c == "*" else "." if c == "?" else _re.escape(c)
            for c in pattern
        ) + "$"
        cand = self._tstats
        lit_prefix = _re.split(r"[*?]", pattern, maxsplit=1)[0]
        if lit_prefix:
            cand = cand.filter(F.col("term").startswith(lit_prefix))
        rows = (
            cand.filter(F.col("term").rlike(regex))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def search_wildcard(self, pattern: str, k: int, *,
                        max_expansions: int = 50,
                        mode: str = "taat") -> DataFrame:
        """Wildcard query (ES `wildcard`): expand the pattern against the
        term dictionary, then BM25 over the expansion (bounded like ES)."""
        terms = self.expand_wildcard(pattern, max_expansions)
        if not terms:
            return self.spark.createDataFrame(
                [], "rank bigint, doc_id bigint, score double"
            )
        return self.search(terms, k, mode=mode)

    def expand_regexp(self, pattern: str,
                      max_expansions: int = 50) -> list[str]:
        """Terms matching an ES `regexp` query pattern, ordered (df desc,
        term asc), capped at max_expansions. Lucene RegExp anchors to the
        WHOLE term; its core operator set (literals, `.`, `?`, `+`, `*`,
        `|`, `[...]`, `(...)`, `{m,n}`) coincides with Java regex, which
        rlike evaluates JVM-side — Lucene-only operators (`&`, `<>`,
        `@`) are not translated. A leading literal run prunes the
        dictionary scan to a term range (dropped back one char when its
        last char carries a ?/*/{n} quantifier, which would make it
        optional)."""
        import re as _re

        _re.compile(pattern)  # reject invalid patterns loudly, up front
        lit = _re.match(r"[a-z0-9]*", pattern).group(0)
        if pattern[len(lit):len(lit) + 1] in ("?", "*", "{"):
            lit = lit[:-1]
        cand = self._tstats
        if lit:
            cand = cand.filter(F.col("term").startswith(lit))
        rows = (
            cand.filter(F.col("term").rlike("^(?:" + pattern + ")$"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def search_regexp(self, pattern: str, k: int, *,
                      max_expansions: int = 50,
                      mode: str = "taat") -> DataFrame:
        """Regexp query (ES `regexp`): expand the anchored pattern against
        the term dictionary, then BM25 over the expansion, bounded like
        ES (max_expansions). Completes the term-level expansion family:
        term / prefix / fuzzy / wildcard / regexp."""
        terms = self.expand_regexp(pattern, max_expansions)
        if not terms:
            return self.spark.createDataFrame(
                [], "rank bigint, doc_id bigint, score double"
            )
        return self.search(terms, k, mode=mode)

    def expand_fuzzy(self, term: str, *, max_edits: int = 1,
                     prefix_len: int = 0,
                     max_expansions: int = 50) -> list[str]:
        """Terms within `max_edits` Levenshtein distance of `term` (ES
        fuzzy-query expansion), ordered (distance asc, df desc, term asc),
        capped at max_expansions. prefix_len (ES prefix_length) requires
        the first N chars to match exactly — at scale this turns the
        dictionary scan into a prefix-range scan instead of a full pass.
        Levenshtein runs JVM-side (built-in F.levenshtein)."""
        cand = self._tstats
        if prefix_len > 0:
            cand = cand.filter(F.col("term").startswith(term[:prefix_len]))
        rows = (
            cand.withColumn("dist", F.levenshtein(F.col("term"), F.lit(term)))
            .filter(F.col("dist") <= max_edits)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def search_fuzzy(self, term: str, k: int, *, max_edits: int = 1,
                     prefix_len: int = 0, max_expansions: int = 50,
                     mode: str = "taat") -> DataFrame:
        """Fuzzy query (ES `fuzzy`): expand the term against the dictionary
        by edit distance, then run the expansion as an OR-disjunction
        through the BM25 engine. Expansion is bounded like ES
        (max_expansions) and can be prefix-anchored (prefix_length)."""
        terms = self.expand_fuzzy(term, max_edits=max_edits,
                                  prefix_len=prefix_len,
                                  max_expansions=max_expansions)
        if not terms:
            return self.spark.createDataFrame(
                [], "rank bigint, doc_id bigint, score double"
            )
        return self.search(terms, k, mode=mode)

    def search_phrase(self, phrase, k: int, with_meta: bool = False,
                      slop: int = 0, _raw: bool = False) -> DataFrame:
        """Indexed phrase retrieval (ES match_phrase) — a pure INDEX
        operation over the positional postings sidecar, no corpus re-scan
        (the reference's ES index stores positions for exactly this,
        term_vector:'yes' at /root/reference/wapo/index_es.py:99).

        `phrase` = raw text (analyzed by the index's analyzer) or an
        ordered term list. Scoring matches operators.bm25.phrase_bm25_topk:
        Okapi BM25 with tf = consecutive-occurrence count and df = phrase
        doc frequency; scores rounded 6dp before the (score desc, doc_id
        asc) top-k cut. Exact equality with the compositional path holds
        when every doc has >= 1 kept token (true of the test corpora; the
        compositional path computes N/avgdl over non-empty docs while the
        index stores corpus-wide stats).

        Plan: the matcher counts occurrences per doc_part (postings +
        positions decoded once per term, fully vectorized via packed
        (local-doc, position) keys) and emits only the docs containing
        the whole phrase; Catalyst scores those candidates and the top-k
        is cut, never touching the corpus. Placement (_phrase_cands): on
        a warm handle whose Σdf + Σcf of the phrase terms fits
        SEARCH_DRIVER_CAP, the positional rows are read with pyarrow and
        the matcher, the scoring projection over a local relation and
        the pandas top-k cut all run on the driver — no Spark job. Above
        it the matcher runs distributed (pruned positional-segment scan
        -> applyInPandas) and _phrase_topk gathers or persists the
        candidates by PHRASE_DRIVER_CAP.

        slop > 0 runs the SLOPPY matcher over the same scan: Lucene's
        acceptance (an assignment of one position per term whose
        offset-shifted span is <= slop — a transposition costs 2), tf =
        this engine's closed-form participating-start convention
        (_make_sloppy_phrase_matcher; equals the exact count at slop=0,
        pytest-pinned). Sloppy phrases need DISTINCT analyzed terms
        (distinct terms can't claim one token position, making every
        choice injective); repeated-term sloppy phrases raise.
        """
        if not self.stats.get("with_positions"):
            raise ValueError(
                "index was built with with_positions=False; phrase search "
                "needs the positional sidecar (IndexConfig.with_positions)"
            )
        if not _raw and self.n_deleted():
            out = self._live(k, lambda kk: self.search_phrase(
                phrase, kk, slop=slop, _raw=True))
            return self._with_meta(out) if with_meta else out
        terms = self.analyze_query(phrase) if isinstance(phrase, str) else list(phrase)
        if not terms:
            return self._empty()
        slop = int(slop)
        if slop < 0:
            raise ValueError("slop must be >= 0")
        plan = self._phrase_plan(terms, slop)
        if plan is None:
            return self._empty()  # an absent term's phrase matches nothing
        out = self._phrase_topk(*plan, k=k)
        return self._with_meta(out) if with_meta else out

    def _phrase_plan(self, terms: list, slop: int = 0,
                     last_alts: list | None = None):
        """(scan_terms, matcher, bound) of a phrase — or, with last_alts
        (the expanded alternatives of a trailing PREFIX, the
        match_phrase_prefix shape), a phrase-prefix — or None when it
        can match nothing (no terms / an absent required term / zero
        expansions). bound = the PROVEN candidate bound: min fixed-term
        df, or the sum of alt dfs for a pure-prefix phrase. Only the
        dictionary is read."""
        if not self.stats.get("with_positions"):
            raise ValueError(
                "phrase clauses need the positional sidecar "
                "(IndexConfig.with_positions)")
        fixed = list(terms)
        alts = None if last_alts is None else sorted(
            {a for a in last_alts if a})
        if not (fixed if alts is None else alts):
            return None
        # a sloppy match needs an injective position assignment, which
        # distinct terms (and expansions disjoint from them) guarantee
        sloppy = slop > 0 and len(fixed) + (alts is not None) > 1
        if sloppy and len(set(fixed)) != len(fixed):
            raise ValueError(
                "sloppy phrases need distinct analyzed terms (repeated "
                "terms would need an injective position assignment — "
                "bipartite matching); use slop=0 or distinct terms")
        if sloppy and alts and set(alts) & set(fixed):
            raise ValueError(
                f"sloppy phrase-prefix where an expansion "
                f"{sorted(set(alts) & set(fixed))} equals a fixed term is "
                "not supported (injective position assignment would need "
                "bipartite matching)")
        dfs = self.term_dfs(sorted(set(fixed)))
        if any(d == 0 for d in dfs.values()):
            return None
        phrase = fixed + (alts or [])[:1]
        matcher = (_make_sloppy_phrase_matcher(phrase, slop, last_alts=alts)
                   if sloppy else _make_phrase_matcher(phrase, last_alts=alts))
        bound = (min(dfs.values()) if fixed
                 else sum(self.term_dfs(alts).values()))
        return sorted(set(fixed) | set(alts or ())), matcher, bound

    def _phrase_cands(self, scan_terms: list[str], matcher):
        """(doc_id, occ, dl) candidates of a phrase plan: a pandas frame
        when the driver regime reads the positional rows (_driver_ok on
        Σdf + Σcf of the scan terms — no Spark job), else the
        distributed per-part matcher plan."""
        cols = ["doc_part", "term", "docs", "tfs", "dls", "positions"]
        if self._driver_ok(pos_terms=scan_terms):
            cand = self._per_part_local(matcher, scan_terms, cols)
            return (pd.DataFrame(columns=["doc_id", "occ", "dl"])
                    if cand is None else cand)
        n_buckets = int(self.stats["n_buckets"])
        seg = (
            self._pos_segments()
            .filter(F.col("bucket").isin(
                sorted({term_bucket(t, n_buckets) for t in scan_terms})))
            .filter(F.col("term").isin(scan_terms))
            .select(*cols)
        )
        return self._by_part(seg).applyInPandas(matcher, PHRASE_CAND_SCHEMA)

    def _phrase_topk(self, scan_terms: list[str], matcher, bound: int, *,
                     k: int) -> DataFrame:
        """Score + top-k a phrase plan's candidates (doc_id, occ, dl).

        Three regimes:
        - driver (_phrase_cands read the rows with pyarrow): the Catalyst
          scoring projection runs over a local relation, which the
          optimizer evaluates on the driver, and _cut_topk ranks the
          scores in pandas — no Spark job, 6dp rounding still Spark's.
        - PROVEN candidate bound <= PHRASE_DRIVER_CAP: gather the
          distributed matcher's candidates with ONE Spark job (Arrow
          toPandas) and score over a local relation — the same
          expression tree, so scores and 6dp rounding are bit-identical.
        - above that cap: persist the candidate relation, count for the
          phrase df, score distributed; eager top-k releases the cache.
        """
        cand = self._phrase_cands(scan_terms, matcher)
        local = isinstance(cand, pd.DataFrame)
        release = None
        if local or bound <= PHRASE_DRIVER_CAP:
            pdf = cand if local else cand.toPandas()
            dfp = float(len(pdf))
            if dfp == 0:
                return self._empty()
            cand = _local_frame(self.spark, pdf, PHRASE_CAND_SCHEMA)
        else:
            cand = cand.persist()
            dfp = float(cand.count())
            if dfp == 0:
                cand.unpersist()
                return self._empty()
            release = cand
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        idf = float(np.log1p((n_docs - dfp + 0.5) / (dfp + 0.5)))
        scored = cand.select(
            "doc_id",
            F.round(
                F.lit(idf) * (F.col("occ") * (k1 + 1.0))
                / (F.col("occ")
                   + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))),
                6,
            ).alias("score"),
        )
        if local:
            return self._cut_topk(scored, k)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        out = topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score",
        )
        if release is not None:
            out = _eager_topk(release, out)
        return out

    def _phrase_scores(self, plan, frame: bool = True):
        """COMPLETE (doc_id, score double) relation of a phrase plan
        (_phrase_plan) — the phrase analog of score_all, consumed by the
        bool-tree compiler's phrase leaves (ES match_phrase — and, with
        last_alts, match_phrase_prefix — inside bool bodies). Scoring
        is the engine's phrase convention (search_phrase / _phrase_topk:
        tf = occurrence count — sloppy participating-start count when
        slop > 0 — idf over the PHRASE df), so a bool{must:[phrase]}
        body scores identically to search_phrase (pytest-pinned).
        Returns None when no doc contains the phrase.

        Regimes like _phrase_topk: the driver regime scores in numpy with
        no Spark job (frame=False returns its pandas frame as is, for
        the bool tree's driver regime); under PHRASE_DRIVER_CAP the
        candidates gather with ONE job and df/idf resolve locally (the
        common case — phrases are selective by construction); above the
        cap the relation stays distributed and the phrase df comes from
        an in-plan count aggregation cross-joined back (the matcher
        subtree may evaluate twice — accepted for the rare hot-phrase
        shape instead of leaking a persist into the consumer's plan)."""
        scan_terms, matcher, bound = plan
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        cand = self._phrase_cands(scan_terms, matcher)
        local = isinstance(cand, pd.DataFrame)
        if local or bound <= PHRASE_DRIVER_CAP:
            pdf = cand if local else cand.toPandas()
            dfp = float(len(pdf))
            if dfp == 0:
                return None
            idf = float(np.log1p((n_docs - dfp + 0.5) / (dfp + 0.5)))
            sc = (idf * (pdf["occ"].to_numpy(np.float64) * (k1 + 1.0))
                  / (pdf["occ"].to_numpy(np.float64)
                     + k1 * (1.0 - b
                             + b * pdf["dl"].to_numpy(np.float64)
                             / avgdl)))
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(np.int64), "score": sc})
            if local and not frame:
                return out
            return _local_frame(self.spark, out, TOPK_SCHEMA)
        dfp_rel = cand.agg(
            F.count(F.lit(1)).cast("double").alias("_dfp"))
        scored = cand.crossJoin(F.broadcast(dfp_rel)).select(
            "doc_id",
            (F.log1p((F.lit(n_docs) - F.col("_dfp") + 0.5)
                     / (F.col("_dfp") + 0.5))
             * (F.col("occ") * (k1 + 1.0))
             / (F.col("occ")
                + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
             ).alias("score"))
        return scored

    def score_all(self, query) -> DataFrame:
        """Complete (doc_id, score double) relation for an OR-disjunction —
        every matching doc, no top-k cut. The full-score form multi-field
        DisMax, hybrid knn and LTR feature pipelines consume. Same pruned
        segment scan as search(); exact taat accumulation (per-doc ranges
        are disjoint, so per-part scores are complete). Under the driver
        rule (`_driver_ok`, as in search) the scores come from
        `_score_all_local` in a job-free local frame; otherwise the
        distributed scan→shuffle→applyInPandas plan runs. Both regimes
        are row/score-identical."""
        pdf = self._score_all_local(query)
        if pdf is not None:
            return (_local_frame(self.spark, pdf, TOPK_SCHEMA) if len(pdf)
                    else self._empty(TOPK_SCHEMA))
        terms, scorer = self._full_scorer(query)
        n_buckets = int(self.stats["n_buckets"])
        buckets = sorted({term_bucket(t, n_buckets) for t in terms})
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
            .select(*_SCORE_COLS)
        )
        return self._by_part(seg).applyInPandas(scorer, TOPK_SCHEMA)

    def _score_all_local(self, query) -> pd.DataFrame | None:
        """The driver regime of score_all: its complete (doc_id, score)
        rows as a pandas frame — the SAME per-part scorer over a pyarrow
        read of the terms' segment rows, no Spark job — or None when the
        proven posting volume fails `_driver_ok` (cold handle or above
        SEARCH_DRIVER_CAP)."""
        terms, scorer = self._full_scorer(query)
        if not terms:
            return _score_rows([])
        if not self._driver_ok(terms):
            return None
        cand = self._per_part_local(scorer, terms, list(_SCORE_COLS))
        return _score_rows([]) if cand is None else cand

    def _full_scorer(self, query) -> tuple[list[str], object]:
        """(terms present in the dictionary, their no-cut taat scorer)."""
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        terms = sorted(set(terms))
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t, 0) > 0]
        n_docs = float(self.stats["n_docs"])
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in terms}
        return terms, _make_scorer(
            idf_map, k1=float(self.stats["k1"]), b=float(self.stats["b"]),
            avgdl=float(self.stats["avgdl"]), k=None, mode="taat")

    def _scores_for_docs(self, terms: list[str],
                         doc_ids: "np.ndarray") -> pd.DataFrame:
        """Exact OR-disjunction scores restricted to the given docs,
        gathered to the driver: (doc_id, score) pandas frame.

        The rank-safe-pruning primitive (indexed DisMax/bool): the scan is
        pruned to the candidate docs' doc_part partitions (a doc's every
        posting lives in one part) and the scorer drops non-candidate ids
        before accumulation — a hot term contributes only its candidate-
        part blocks, never its full posting relation. One Spark job.
        """
        terms = sorted(set(terms))
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t, 0) > 0]
        if not terms or doc_ids.size == 0:
            return pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                                 "score": pd.Series([], dtype=np.float64)})
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        n_buckets = int(self.stats["n_buckets"])
        doc_range = int(self.stats["doc_range"])
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in terms}
        buckets = sorted({term_bucket(t, n_buckets) for t in terms})
        only = np.unique(np.asarray(doc_ids, dtype=np.int64))
        parts = sorted({int(d) // doc_range for d in only})
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
        )
        # an isin literal over millions of parts would bloat the plan;
        # above the cap the term filter alone prunes and the scorer's
        # candidate mask does the rest
        if len(parts) <= 4096:
            seg = seg.filter(F.col("doc_part").isin(parts))
        seg = seg.select(*_SCORE_COLS)
        scorer = _make_scorer(idf_map, k1=k1, b=b, avgdl=avgdl, k=None,
                              mode="taat", only_docs=only)
        return self._by_part(seg).applyInPandas(
            scorer, TOPK_SCHEMA).toPandas()

    def term_vectors(self, doc_ids: list[int]) -> DataFrame:
        """Per-doc term vectors (doc_id, term, tf, dl) for the requested
        docs — the es.termvectors read (the reference's keyword extraction
        hits it per doc+field, wapo/parser.py:10-47). Requires an index
        built with IndexConfig.with_term_vectors; the read prunes to the
        docs' doc_part partitions with the doc_id predicate pushed to
        row groups (files are doc-sorted)."""
        if not self.stats.get("with_term_vectors"):
            raise ValueError(
                "index was built with with_term_vectors=False; the forward "
                "index needs IndexConfig.with_term_vectors (the ES "
                "term_vector:'yes' opt-in)"
            )
        ids = sorted(set(int(d) for d in doc_ids))
        doc_range = int(self.stats["doc_range"])
        parts = sorted({d // doc_range for d in ids})
        return (
            self.spark.read
            .schema("doc_id bigint, term string, tf int, dl int, doc_part bigint")
            .parquet(os.path.join(self.index_dir, "term_vectors"))
            .filter(F.col("doc_part").isin(parts))
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "term", "tf", "dl")
        )

    def keywords_tf_idf(self, doc_ids: list[int], *, min_tf: int = 2,
                        min_df: int = 5, top_n: int = 25) -> DataFrame:
        """tf-idf top terms per doc straight from the index — the
        reference's query formulation (two es.termvectors calls with
        min_term_freq/min_doc_freq/max_num_terms filters + idf weighting,
        wapo/parser.py:10-47). Term vectors give tf; the term_stats
        dictionary gives global df; score = tf * lucene_idf, tie-break
        (score desc, term asc). Returns (doc_id, term, kscore rounded 6dp).
        """
        tv = self.term_vectors(doc_ids).filter(F.col("tf") >= min_tf)
        n_docs = float(self.stats["n_docs"])
        ts = self._tstats.select("term", "df").filter(F.col("df") >= min_df)
        idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5))
        # broadcast the SMALL side: the requested docs' term vectors, not
        # the whole dictionary (billions of terms at corpus scale)
        scored = (
            ts.join(F.broadcast(tv), "term")
            .select("doc_id", "term",
                    F.round(F.col("tf") * idf, 6).alias("kscore"))
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("kscore"), F.asc("term")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_n)
            .select("doc_id", "term", "kscore")
        )

    def keywords_from_text(self, text: str, *, min_tf: int = 2,
                           min_df: int = 5, top_n: int = 25) -> list[str]:
        """tf-idf top terms of FREE TEXT against this index's statistics
        — the ES more_like_this `like: "raw text"` form (keywords come
        from analyzing the text, df from the term dictionary; same
        thresholds and tie-break as keywords_tf_idf). Driver-side by
        design: the like-text is one short string (ES analyzes it on the
        coordinating node), and df resolves via the driver-local pruned
        term_stats read — no Spark job until the retrieval itself."""
        from collections import Counter

        return self._keywords_from_tf(Counter(self.analyze_query(text)),
                                      min_tf=min_tf, min_df=min_df,
                                      top_n=top_n)

    def keywords_merged(self, doc_ids: list[int], text: str, *,
                        min_tf: int = 2, min_df: int = 5,
                        top_n: int = 25) -> list[str]:
        """tf-idf top terms of doc AND text likes under ONE merged term
        budget — the ES more_like_this mixed-likes contract (Lucene
        MoreLikeThis aggregates every like source's term frequencies
        into one map BEFORE min_term_freq / max_query_terms apply, so
        a term frequent across sources but rare in each survives).
        Doc tfs come from the stored term vectors (driver-side collect:
        a handful of docs' vocab, the same coordinating-node shape as
        ES termvectors); text tfs from analyzing the string."""
        from collections import Counter

        tf = Counter(self.analyze_query(text))
        for r in (self.term_vectors(doc_ids)
                  .select("term", "tf").collect()):
            tf[r["term"]] += int(r["tf"])
        return self._keywords_from_tf(tf, min_tf=min_tf, min_df=min_df,
                                      top_n=top_n)

    def _keywords_from_tf(self, tf, *, min_tf: int, min_df: int,
                          top_n: int) -> list[str]:
        """Shared tail of the text/mixed keyword forms: threshold the
        aggregated term frequencies, resolve df via the driver-local
        pruned term_stats read, score tf * lucene_idf, tie-break
        (score desc, term asc), cut to top_n."""
        cand = sorted(t for t, c in tf.items() if c >= min_tf)
        if not cand:
            return []
        dfs = self.term_dfs(cand)
        n_docs = float(self.stats["n_docs"])
        scored = [
            (t, round(tf[t] * float(lucene_idf(n_docs, float(dfs[t]))), 6))
            for t in cand if dfs.get(t, 0) >= min_df
        ]
        scored.sort(key=lambda kv: (-kv[1], kv[0]))
        return [t for t, _ in scored[:top_n]]

    def significant_terms(self, query_terms: list[str],
                          top_n: int) -> DataFrame:
        """ES significant_terms from the INDEX (compositional form:
        operators.bm25.significant_terms — asserted identical in tests):
        JLH-scored foreground (docs matching the query) vs background
        (corpus) term significance. Foreground docs come from the query
        terms' postings, per-term foreground df from the stored term
        vectors (requires with_term_vectors), background df from the
        term_stats dictionary — all index reads, no corpus scan.
        Returns (rank, term, fg_df, bg_df, score rounded 6dp)."""
        if not self.stats.get("with_term_vectors"):
            raise ValueError(
                "significant_terms needs the forward index "
                "(IndexConfig.with_term_vectors)"
            )
        terms = sorted(set(query_terms))
        dfs = self.term_dfs(terms)
        live = [t for t in terms if dfs.get(t, 0) > 0]
        if not live:
            return self._empty("rank bigint, term string, fg_df bigint, "
                               "bg_df bigint, score double")
        fg = self._term_docs(live).select("doc_id").distinct()
        fg_n = float(fg.count())
        bg_n = float(self.stats["n_docs"])
        tv = self.spark.read.schema(
            "doc_id bigint, term string, tf int, dl int, doc_part bigint"
        ).parquet(os.path.join(self.index_dir, "term_vectors"))
        fg_df = (
            tv.join(fg, "doc_id", "left_semi")
            .groupBy("term").agg(F.count(F.lit(1)).alias("fg_df"))
        )
        bg_df = self._tstats.select("term", F.col("df").alias("bg_df"))
        fg_pct = F.col("fg_df") / F.lit(fg_n)
        bg_pct = F.col("bg_df") / F.lit(bg_n)
        scored = (
            fg_df.join(bg_df, "term")
            .filter(fg_pct > bg_pct)
            .select(
                "term",
                F.col("fg_df").cast("bigint").alias("fg_df"),
                F.col("bg_df").cast("bigint").alias("bg_df"),
                F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6)
                .alias("score"),
            )
        )
        topn = scored.orderBy(F.desc("score"), F.asc("term")).limit(top_n)
        w = Window.orderBy(F.desc("score"), F.asc("term"))
        return topn.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "term", "fg_df", "bg_df", "score",
        )

    def _term_docs(self, terms: list[str]) -> DataFrame:
        """(term, doc_id) membership relation for the given terms — the
        raw postings-doc sets, decoded from the pruned segment scan (the
        set-operand form bool constraints consume)."""
        terms = sorted(set(terms))
        n_buckets = int(self.stats["n_buckets"])
        buckets = sorted({term_bucket(t, n_buckets) for t in terms})
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
            .select("doc_part", "term", "docs", "tfs", "dls")
        )

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = []
            for row in pdf.itertuples(index=False):
                ids, _, _ = decode_postings(row.docs, row.tfs, row.dls)
                outs.append(pd.DataFrame({"term": row.term, "doc_id": ids}))
            if not outs:
                return pd.DataFrame({
                    "term": pd.Series([], dtype=object),
                    "doc_id": pd.Series([], dtype=np.int64),
                })
            return pd.concat(outs, ignore_index=True)

        return self._by_part(seg).applyInPandas(
            emit, "term string, doc_id bigint"
        )

    def _parse_filters(self, filter) -> tuple[list[list[str]], list[tuple]]:
        """Split ES filter-context clauses into (term clauses, metadata
        clauses). A str / list element or a {"match": {field: text}} dict
        is a TERM clause (text analyzed by the index's analyzer; the doc
        must contain >= 1 of its tokens — ES match OR-default); a
        {"term"|"terms"|"range": {col: spec}} dict is a METADATA clause
        over doc-store columns. A match clause analyzing to nothing is a
        no-op (same leniency as the bool must adapter in plans/dsl.py)."""
        filt_clauses: list[list[str]] = []
        meta_clauses: list[tuple] = []
        for f in (filter or []):
            if isinstance(f, str):
                filt_clauses.append([f])
            elif isinstance(f, (list, tuple, set)):
                c = sorted(set(f))
                if c:
                    filt_clauses.append(c)
            elif isinstance(f, dict):
                fk, fs = next(iter(f.items()))
                if fk == "match":
                    _, text = next(iter(fs.items()))
                    toks = sorted(set(self.analyze_query(text)))
                    if toks:
                        filt_clauses.append(toks)
                elif fk in ("term", "terms", "range"):
                    col, spec = next(iter(fs.items()))
                    meta_clauses.append((fk, col, spec))
                elif fk == "exists":
                    # ES {"exists": {"field": col}}: doc has a non-null
                    # value for the column
                    meta_clauses.append((fk, fs["field"], None))
                else:
                    raise ValueError(f"unsupported filter clause: {fk}")
            else:
                raise ValueError(f"unsupported filter clause: {f!r}")
        return filt_clauses, meta_clauses

    def search_bool(self, *, must=None, should=None, must_not=None,
                    k: int, minimum_should_match: int = 0,
                    filter=None, _raw: bool = False) -> DataFrame:
        """ES `bool` query from the INDEX (compositional form:
        operators.bm25.bool_bm25_topk — asserted identical in tests):
        docs must satisfy EVERY `must` clause and NONE of `must_not`,
        scored by the summed BM25 of must+should terms, rounded 6dp
        before the (score desc, doc_id asc) top-k cut.

        `must` elements are CLAUSES: a plain string is a single required
        term; a list of terms is one ES match clause — the doc must
        contain AT LEAST ONE of its terms (an ES match defaults to OR of
        its tokens; requiring every token would be `operator: "and"`
        semantics, which the reference never issues). `should` and
        `must_not` are flat term sets (ES: any should term adds score;
        any must_not term excludes).

        minimum_should_match > 0 additionally requires that many DISTINCT
        should terms per doc (the ES knob; with must present ES defaults
        it to 0, and to 1 otherwise — matching at least one should term
        is already this method's behavior when should is the only
        scoring set).

        `filter` adds ES FILTER-CONTEXT clauses (see _parse_filters):
        every hit must satisfy all of them, but they contribute NO score
        (ES bool filter semantics). With a filter present and no must,
        ES's minimum_should_match default is 0, so filter-admitted docs
        matching no should term are hits with score 0.0 (ranked after
        every scored doc, doc_id asc). A filter-only bool returns its
        matches at score 0.0 in doc_id order.

        Plan: one score_all pass over the scoring terms' postings, the
        per-clause constraint as a countDistinct(clause) against the
        decoded postings doc sets joined to a broadcast term->clause map,
        must_not as a left_anti — all index reads, no corpus scan.
        Metadata filters read ONLY their columns + doc_id from the
        doc_store (predicate pushed to parquet) and flow as a
        doc_part-cogrouped admitted-id stream into the scoring pass —
        8 bytes per admitted doc on the wire, never a corpus scan."""
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_bool(
                must=must, should=should, must_not=must_not, k=kk,
                minimum_should_match=minimum_should_match, filter=filter,
                _raw=True))
        must_clauses = [
            sorted({c} if isinstance(c, str) else set(c))
            for c in (must or [])
        ]
        must_clauses = [c for c in must_clauses if c]
        must_terms = sorted({t for c in must_clauses for t in c})
        should = sorted(set(should or []))
        must_not = sorted(set(must_not or []))
        filt_clauses, meta_clauses = self._parse_filters(filter)
        has_filter = bool(filt_clauses or meta_clauses)
        msm = int(minimum_should_match)
        if not must_clauses and not should and not has_filter:
            if not must_not:
                raise ValueError(
                    "bool query needs at least one "
                    "must/should/must_not/filter clause")
            # ES: a must_not-only bool matches every doc OUTSIDE the
            # excluded set, at score 0 (pure exclusion runs in filter
            # context). Order = the engine's all-equal-scores
            # convention, doc_id asc.
            excl = (self._term_docs(must_not).select("doc_id")
                    .distinct())
            hits = (self.doc_store().select("doc_id")
                    .join(excl, "doc_id", "left_anti")
                    .select("doc_id", F.lit(0.0).alias("score"))
                    .orderBy(F.asc("doc_id")).limit(k))
            w = Window.orderBy(F.asc("doc_id"))
            return hits.select(
                (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
                "doc_id", "score",
            )
        if msm > len(should):
            # ES returns an empty hit set when minimum_should_match
            # exceeds the distinct should terms — adapter-submitted
            # bodies must not crash (ADVICE r4)
            return self._empty()
        # Pure metadata filter (no text terms anywhere): one Catalyst
        # path — pushed-down doc_store scan, TakeOrderedAndProject.
        constraints = must_clauses + filt_clauses
        if (not constraints and not should and not must_not
                and meta_clauses):
            hits = (self.doc_store()
                    .filter(_meta_filter_pred(meta_clauses))
                    .select("doc_id", F.lit(0.0).alias("score"))
                    .orderBy(F.asc("doc_id")).limit(k))
            w = Window.orderBy(F.asc("doc_id"))
            return hits.select(
                (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
                "doc_id", "score",
            )
        # Rank-safe pruned regime: the result set is bounded by the most
        # selective constraint clause's doc coverage (sum of its terms'
        # dfs; filter term clauses constrain exactly like must), or — for
        # a pure-should query with msm >= 2 — by sum(should dfs)/msm
        # (every result consumes >= msm posting memberships). When the
        # PROVEN bound fits on the driver, candidates are intersected per
        # doc_part (one job, no posting shuffle), then ONLY they are
        # scored (scan pruned to their parts, hot should-terms never
        # materialize full score relations). A metadata filter never
        # loosens a bound, so the regime choice stays proven with it.
        bound_ok = None
        if constraints:
            cdfs = self.term_dfs(sorted({t for c in constraints for t in c}))
            if any(all(cdfs.get(t, 0) == 0 for t in c) for c in constraints):
                return self._empty()  # a clause of only absent terms: no match
            bound_ok = min(sum(cdfs.get(t, 0) for t in c)
                           for c in constraints)
        elif msm >= 2:
            sdfs = self.term_dfs(should)
            bound_ok = sum(sdfs.values()) // msm
        if bound_ok is not None and bound_ok <= BOOL_DRIVER_CAP:
            return self._bool_pruned(must_clauses, should, must_not,
                                     k=k, msm=msm,
                                     filt_clauses=filt_clauses,
                                     meta_clauses=meta_clauses)
        return self._bool_distributed(must_clauses, should, must_not,
                                      k=k, msm=msm,
                                      filt_clauses=filt_clauses,
                                      meta_clauses=meta_clauses)

    def _bool_distributed(self, must_clauses, should, must_not, *, k,
                          msm: int = 0, filt_clauses=(),
                          meta_clauses=()) -> DataFrame:
        """Above-cap bool regime (every must clause hot at 100x scale):
        ONE combined applyInPandas pass intersects the constraints and
        scores ONLY the surviving candidates per doc_part, with a
        margin-safe per-part top-k cut (_make_bool_taat) — replacing the
        r4 plan (full score_all relation + per-constraint _term_docs
        semi-joins), which decoded hot postings up to three times and
        shuffled every matching doc's score. Per-doc ranges are disjoint,
        so per-part candidate sets and scores are complete; the shared
        Catalyst round + top-k tail keeps rows bit-identical to the
        driver-pruned regime (pytest-pinned).

        Filter-context term clauses ride the same pass as non-scoring
        constraint clauses. A metadata filter cogroups the pass with the
        doc_store rows passing the pushed-down predicate, projected to
        (doc_part, doc_id) — the shuffle carries 8 bytes per admitted
        doc, and the filter applies BEFORE the top-k cut."""
        must_terms = sorted({t for c in must_clauses for t in c})
        scoring = sorted(set(must_terms) | set(should))
        filt_terms = sorted({t for c in filt_clauses for t in c})
        dfs = self.term_dfs(sorted(set(scoring) | set(filt_terms)))
        constraints = list(must_clauses) + list(filt_clauses)
        if any(all(dfs.get(t, 0) == 0 for t in c) for c in constraints):
            return self._empty()  # a clause of only absent terms: no match
        live_scoring = [t for t in scoring if dfs.get(t, 0) > 0]
        zero_fill = not must_clauses and bool(filt_clauses or meta_clauses)
        if not live_scoring and not zero_fill:
            return self._empty()
        live_filt = [t for t in filt_terms if dfs.get(t, 0) > 0]
        mn_dfs = self.term_dfs(must_not) if must_not else {}
        live_mn = [t for t in must_not if mn_dfs.get(t, 0) > 0]
        scan_terms = sorted(set(live_scoring) | set(live_filt)
                            | set(live_mn))
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        n_buckets = int(self.stats["n_buckets"])
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t])))
                   for t in live_scoring}
        buckets = sorted({term_bucket(t, n_buckets) for t in scan_terms})
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(scan_terms))
            .select("doc_part", "term", "docs", "tfs", "dls")
        )
        live_set = set(scan_terms)
        scorer = _make_bool_taat(
            [sorted(set(c) & live_set) for c in constraints],
            live_mn, [t for t in should if t in idf_map], msm,
            live_scoring, idf_map, k1=k1, b=b, avgdl=avgdl, k=k,
            cogrouped=bool(meta_clauses), zero_fill=zero_fill,
        )
        if meta_clauses:
            doc_range = int(self.stats["doc_range"])
            allowed = (
                self.doc_store()
                .filter(_meta_filter_pred(list(meta_clauses)))
                .select(
                    (F.col("doc_id") / doc_range).cast("bigint")
                    .alias("doc_part"),
                    "doc_id",
                )
            )
            scores = self._by_part(seg).cogroup(
                self._by_part(allowed)
            ).applyInPandas(scorer, TOPK_SCHEMA)
        else:
            scores = self._by_part(seg).applyInPandas(
                scorer, TOPK_SCHEMA)
        rounded = scores.select("doc_id", F.round("score", 6).alias("score"))
        topk = rounded.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score",
        )

    def _bool_pruned(self, must_clauses, should, must_not, *, k,
                     msm: int = 0, filt_clauses=(),
                     meta_clauses=()) -> DataFrame:
        """Capped-bound bool evaluation: per-part clause intersection ->
        driver candidate set -> candidate-restricted scoring -> local
        top-k. Scores and rounding go through the SAME Catalyst
        expressions as the distributed tail, so results are identical
        (asserted in tests against the unpruned path).

        Filter-context term clauses intersect alongside must clauses
        (non-scoring). A metadata filter refines the <= cap candidate set
        with ONE extra job: the pushed-down doc_store scan broadcast-
        semi-joined against the candidates. Zero-score hits (no must,
        filter present) are appended on the driver — BM25 partials are
        strictly positive, so only the k smallest unscored candidates
        can reach the top-k."""
        must_terms = sorted({t for c in must_clauses for t in c})
        constraints = list(must_clauses) + list(filt_clauses)
        filt_terms = sorted({t for c in filt_clauses for t in c})
        mn_dfs = self.term_dfs(must_not) if must_not else {}
        live_mn = [t for t in must_not if mn_dfs.get(t, 0) > 0]
        scan_terms = sorted(set(must_terms) | set(filt_terms) | set(live_mn)
                            | (set(should) if msm > 0 else set()))
        n_buckets = int(self.stats["n_buckets"])
        buckets = sorted({term_bucket(t, n_buckets) for t in scan_terms})
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(scan_terms))
            .select("doc_part", "term", "docs", "tfs", "dls")
        )
        intersector = _make_clause_intersector(constraints, live_mn,
                                               should=should, msm=msm)
        ok_pdf = self._by_part(seg).applyInPandas(
            intersector, "doc_id bigint").toPandas()
        if not len(ok_pdf):
            return self._empty()
        ok = np.sort(ok_pdf["doc_id"].to_numpy(np.int64))
        if meta_clauses:
            cand = self.spark.createDataFrame(
                pd.DataFrame({"doc_id": ok}), "doc_id bigint")
            passing = (
                self.doc_store()
                .filter(_meta_filter_pred(list(meta_clauses)))
                .join(F.broadcast(cand), "doc_id", "left_semi")
                .select("doc_id").toPandas()
            )
            if not len(passing):
                return self._empty()
            ok = np.sort(passing["doc_id"].to_numpy(np.int64))
        scoring = sorted(set(must_terms) | set(should))
        scores_pdf = (self._scores_for_docs(scoring, ok) if scoring
                      else pd.DataFrame({
                          "doc_id": pd.Series([], dtype=np.int64),
                          "score": pd.Series([], dtype=np.float64)}))
        if not must_clauses and (filt_clauses or meta_clauses):
            # zero-score hits: candidates matching no scoring term (ES
            # filter context, msm defaults to 0 with a filter present)
            missing = ok[~np.isin(ok, scores_pdf["doc_id"]
                                  .to_numpy(np.int64))][:k]
            if missing.size:
                scores_pdf = pd.concat(
                    [scores_pdf,
                     pd.DataFrame({"doc_id": missing,
                                   "score": np.zeros(missing.size)})],
                    ignore_index=True)
        if not len(scores_pdf):
            return self._empty()
        scores = self.spark.createDataFrame(scores_pdf, TOPK_SCHEMA)
        rounded = scores.select("doc_id", F.round("score", 6).alias("score"))
        topk = rounded.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score",
        )

    def search_mixed(self, groups, k: int, _raw: bool = False) -> DataFrame:
        """OR of AND-groups — the ES mixed AND/OR query_string shape
        ('a AND b OR c' = (a AND b) OR c, AND binds tighter). `groups` is
        a list of groups; each group a list of clauses; each clause a
        term list with ES match semantics (any of its tokens satisfies
        it). A doc matches if it satisfies EVERY clause of AT LEAST ONE
        group; its score is the sum over its matched groups of the
        summed BM25 of the group's tokens (a token in several matched
        groups counts per group — Lucene sums sub-clause scores with no
        dedup across should clauses). Rounded 6dp before the (score
        desc, doc_id asc) top-k cut.

        Plan: one pruned segment scan over every live token ->
        per-doc_part group-intersection + candidate-restricted
        accumulation with a margin-safe per-part top-k cut
        (_make_groups_taat; per-doc ranges are disjoint so per-part
        results are complete) -> shared Catalyst round + top-k tail.
        A single group degenerates to search_bool(must=...); singleton
        groups degenerate to search() — both pytest-pinned."""
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_mixed(
                groups, kk, _raw=True))
        gs = []
        for g in groups:
            clauses = [sorted({c} if isinstance(c, str) else set(c))
                       for c in g]
            clauses = [c for c in clauses if c]
            if clauses:
                gs.append(clauses)
        if not gs:
            return self._empty()
        all_terms = sorted({t for g in gs for c in g for t in c})
        dfs = self.term_dfs(all_terms)
        live_gs = []
        for g in gs:
            # a group with a clause of only-absent terms can never match
            if any(all(dfs.get(t, 0) == 0 for t in c) for c in g):
                continue
            live_gs.append([[t for t in c if dfs.get(t, 0) > 0] for c in g])
        if not live_gs:
            return self._empty()
        scoring = sorted({t for g in live_gs for c in g for t in c})
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        n_buckets = int(self.stats["n_buckets"])
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t])))
                   for t in scoring}
        buckets = sorted({term_bucket(t, n_buckets) for t in scoring})
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(scoring))
            .select("doc_part", "term", "docs", "tfs", "dls")
        )
        scorer = _make_groups_taat(live_gs, idf_map, k1=k1, b=b,
                                   avgdl=avgdl, k=k)
        scores = self._by_part(seg).applyInPandas(scorer, TOPK_SCHEMA)
        rounded = scores.select("doc_id", F.round("score", 6).alias("score"))
        topk = rounded.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score",
        )

    def search_bool_tree(self, node: dict, k: int,
                         _raw: bool = False) -> DataFrame:
        """Arbitrarily NESTED ES `bool` query — bool clauses inside
        must/should/must_not/filter at any depth, the general composition
        the flat fast paths (search_bool / search_mixed) don't cover,
        e.g. must=[clause, {"should": [...], "minimum_should_match": 2}].

        `node` is {"must": [...], "should": [...], "must_not": [...],
        "filter": [...], "minimum_should_match": int, "boost": float}.
        A clause is a term list (ES match: the doc matches on >= 1 token
        and scores the summed BM25 of its matched tokens), a plain
        string (single term), a weighted term clause {"terms": [...],
        "boost": w} (ES per-clause boost: the clause's score scales by
        w; the match set is unchanged), a PHRASE clause {"phrase":
        [...], "slop": n, "boost": w} (ES match_phrase inside bool: its
        complete scored relation — the engine's phrase convention,
        _phrase_scores — joins the clause-row union under its own cid;
        usable in every role including filter, where it gates membership
        at no score), or a nested node dict (whose own
        "boost" scales that node's total). `filter` elements may also use the
        _parse_filters grammar (match / term / terms / range / exists
        over doc-store columns). Lucene semantics: a node matches iff
        every must and filter child matches, no must_not child matches,
        and >= minimum_should_match should children match; its score is
        the sum of its MATCHING must+should children's scores (filter /
        must_not contribute none). A should child that matches
        contributes even once msm is satisfied; a nested child's score
        exists only when the CHILD matches as a whole (its own
        must/msm gates) — the semantics a flat term-set bool cannot
        express. A node with only must_not children matches every other
        doc at score 0 (ES match_all-with-exclusions). Unsatisfiable
        msm (> its node's should count) empties that node, never errors.

        Plan (Spark-first, ONE scan + ONE shuffle for the WHOLE tree,
        any depth): every distinct term clause in the tree shares a
        single pruned segment scan emitting per-term BM25 partials
        (_term_scores), fanned to its clauses by a broadcast term->
        clause map join; metadata filter clauses ride the same union as
        pushed-down doc_store id streams. ONE hash aggregation per
        query produces each clause's match flag and score sum per doc,
        and the ENTIRE node tree — every level — compiles to Catalyst
        column expressions over those flags (matched = musts AND
        filters AND NOT must_nots AND >= msm shoulds; score = sum of
        matching scoring children, a nested child gated by its own
        matched expression). No per-node aggregation, no per-leaf
        re-scan. At 100x scale a nested tree still scores every posting
        of its scoring terms exactly once — WAND/driver-pruned regimes
        stay on the flat paths, which the DSL adapter still routes to
        whenever a body has no nested bool. Rounded 6dp before the
        (score desc, doc_id asc) top-k cut — the shared ranked-method
        tail. Driver regime (_tree_flags_local): when the tree's read
        volume (Σdf of its term leaves, Σdf + Σcf of its phrase leaves,
        n_docs when a meta filter or must_not-only node reads the doc
        store) fits SEARCH_DRIVER_CAP on a warm index, the clause rows
        come from pyarrow reads, the flags are aggregated in numpy, the
        SAME tree expressions filter and score a local relation and
        _cut_topk ranks it — no Spark job.

        Reference parity: the reference's ES backend accepts nested bool
        bodies natively (es.search callers, e.g.
        /root/reference/netzpolitik/experiments/keyword_match_recall.py:30);
        its own experiments issue only flat shapes, so this closes the
        switching-user ES surface rather than a reference test."""
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_bool_tree(
                node, kk, _raw=True))
        rel, local = self._bool_tree(node)
        if rel is None:
            return self._empty()
        rounded = rel.select("doc_id", F.round("score", 6).alias("score"))
        if local:
            return self._cut_topk(rounded, k)
        topk = rounded.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score",
        )

    def _term_scores(self, terms: list[str],
                     idf_override: dict[str, float] | None = None
                     ) -> DataFrame:
        """(term, doc_id, score) BM25-partial relation for the given
        terms — ONE pruned segment scan shared by every clause of a
        bool tree (each posting decoded and scored exactly once, however
        many clauses reference its term). Absent terms emit no rows.
        `idf_override` replaces a term's idf (cross_fields blended-df
        statistics); tf norms always use THIS field's dl/avgdl."""
        terms, emit = self._term_emitter(terms, idf_override)
        schema = "term string, doc_id bigint, score double"
        if not terms:
            return self._empty(schema)
        n_buckets = int(self.stats["n_buckets"])
        buckets = sorted({term_bucket(t, n_buckets) for t in terms})
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
            .select("doc_part", "term", "docs", "tfs", "dls")
        )
        return self._by_part(seg).applyInPandas(emit, schema)

    def _term_emitter(self, terms: list[str],
                      idf_override: dict[str, float] | None = None):
        """(live terms, per-doc_part closure emitting their (term, doc_id,
        score) BM25 partials) — _term_scores's scorer, shared with the
        bool tree's driver regime."""
        terms = sorted(set(terms))
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t, 0) > 0]
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t])))
                   for t in terms}
        if idf_override:
            idf_map.update({t: float(v) for t, v in idf_override.items()
                            if t in idf_map})

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = []
            for row in pdf.itertuples(index=False):
                ids, tfs, dls = decode_postings(row.docs, row.tfs,
                                                row.dls)
                tf = tfs.astype(np.float64)
                dl = dls.astype(np.float64)
                sc = (idf_map[row.term] * (tf * (k1 + 1.0))
                      / (tf + k1 * (1.0 - b + b * dl / avgdl)))
                outs.append(pd.DataFrame(
                    {"term": row.term, "doc_id": ids, "score": sc}))
            if not outs:
                return pd.DataFrame({
                    "term": pd.Series([], dtype=object),
                    "doc_id": pd.Series([], dtype=np.int64),
                    "score": pd.Series([], dtype=np.float64),
                })
            return pd.concat(outs, ignore_index=True)

        return terms, emit

    def _bool_tree_rel(self, node: dict):
        """Complete (doc_id, score) relation of a bool tree, or None for
        a tree with no effective clause (every child leniency-dropped,
        same no-op rule as the flat adapters). See search_bool_tree for
        semantics and _bool_tree for the compiler."""
        return self._bool_tree(node)[0]

    def _bool_tree(self, node: dict):
        """(relation, local) of a bool tree — the single-scan/single-
        shuffle compiler: clause rows -> one aggregation -> the tree as
        expressions. local = the driver regime built it: a projection
        over a local relation whose collect() runs no Spark job."""
        from functools import reduce
        from operator import and_, or_

        def term_clause(c) -> list:
            toks = sorted({c} if isinstance(c, str) else set(c))
            return [t for t in toks if t]

        cids: list[tuple] = []          # term clauses (token tuples)
        cid_of: dict[tuple, int] = {}   # dedup identical clauses
        metas: list[list[tuple]] = []   # meta clause groups

        def term_leaf(toks):
            key = tuple(toks)
            if key not in cid_of:
                cid_of[key] = len(cids)
                cids.append(key)
            return ("t", cid_of[key])

        _PHRASE_KEY = "\x00phrase"  # impossible as an analyzed token

        def phrase_leaf(toks, slop, alts=()):
            key = (_PHRASE_KEY, tuple(toks), int(slop), tuple(alts))
            if key not in cid_of:
                cid_of[key] = len(cids)
                cids.append(key)
            return ("t", cid_of[key])

        def norm(nd: dict):
            """Normalize to {"must"/"should"/"must_not"/"filter":
            [("t",i) | ("meta",j) | node], "msm": int}; None = no-op."""
            out = {"must": [], "should": [], "must_not": [],
                   "filter": [],
                   "msm": int(nd.get("minimum_should_match", 0)),
                   # ES per-clause boost on a nested bool: scales the
                   # node's total score (score() below)
                   "boost": float(nd.get("boost", 1.0))}

            def child(c):
                if isinstance(c, dict) and "phrase" in c:
                    # phrase clause {"phrase": [...], "slop": n,
                    # "boost": w} (ES match_phrase inside bool) — or,
                    # with "alts", a phrase-PREFIX clause whose last
                    # position matches any of the expanded alternatives
                    # (ES match_phrase_prefix inside bool): its complete
                    # scored relation rides the clause-row union under
                    # its own cid (_phrase_scores)
                    toks = [t for t in c["phrase"] if t]
                    has_alts = "alts" in c
                    alts = tuple(sorted({a for a in (c.get("alts")
                                                     or ()) if a}))
                    if has_alts and not alts:
                        # a prefix with ZERO dictionary expansions
                        # matches nothing (leniency-dropping it would
                        # wrongly widen the match set)
                        alts = ("\x00never",)
                    if not toks and not alts:
                        return None
                    w = float(c.get("boost", 1.0))
                    leaf = phrase_leaf(toks, c.get("slop", 0), alts)
                    return leaf + (w,) if w != 1.0 else leaf
                if isinstance(c, dict) and "terms" in c:
                    # weighted term clause {"terms": [...], "boost": w}
                    # (ES per-clause boost on a match/term clause): the
                    # clause shares its cid rows with unweighted twins —
                    # the weight rides the leaf, applied in score()
                    toks = term_clause(c["terms"])
                    if not toks:
                        return None
                    w = float(c.get("boost", 1.0))
                    leaf = term_leaf(toks)
                    return leaf + (w,) if w != 1.0 else leaf
                if isinstance(c, dict):
                    return norm(c)
                toks = term_clause(c)
                return term_leaf(toks) if toks else None

            for role in ("must", "should", "must_not"):
                for c in (nd.get(role) or []):
                    x = child(c)
                    if x is not None:
                        out[role].append(x)
            plain = []
            for f in (nd.get("filter") or []):
                if isinstance(f, dict) and "phrase" in f:
                    # phrase in FILTER CONTEXT: membership only (its
                    # score never contributes — filter leaves are
                    # excluded from score() like every filter child)
                    x = child(f)
                    if x is not None:
                        out["filter"].append(x)
                elif isinstance(f, dict) and any(
                        kk in f for kk in ("must", "should", "must_not",
                                           "filter")):
                    x = norm(f)
                    if x is not None:
                        out["filter"].append(x)
                else:
                    plain.append(f)
            if plain:
                fcl, mcl = self._parse_filters(plain)
                for toks in fcl:
                    out["filter"].append(term_leaf(toks))
                if mcl:
                    metas.append(mcl)
                    out["filter"].append(("meta", len(metas) - 1))
            if not (out["must"] or out["should"] or out["must_not"]
                    or out["filter"]):
                return None
            return out

        root = norm(node)
        if root is None:
            return None, False

        # a node whose only children are must_nots matches every OTHER
        # doc (ES match_all-with-exclusions) — those docs may have no
        # clause row at all, so the union needs a doc_store row source
        def needs_all(x) -> bool:
            if isinstance(x, tuple):
                return False
            if (x["must_not"] and not x["must"] and not x["should"]
                    and not x["filter"]):
                return True
            return any(needs_all(c) for role in
                       ("must", "should", "must_not", "filter")
                       for c in x[role])

        # ---- clause rows: ONE scan + fan-out to the clauses + meta
        # streams (+ one phrase relation per distinct phrase clause)
        fan = [(t, i) for i, key in enumerate(cids)
               if not (key and key[0] == _PHRASE_KEY) for t in key]
        all_terms = sorted({t for t, _ in fan})
        # None = can't match: the phrase flag stays null
        phrases = [(i, self._phrase_plan([t for t in key[1] if t],
                                         key[2], list(key[3]) or None))
                   for i, key in enumerate(cids)
                   if key and key[0] == _PHRASE_KEY]
        phrases = [(i, p) for i, p in phrases if p is not None]
        match_all = needs_all(root)
        local = self._driver_ok(all_terms,
                                [t for _, p in phrases for t in p[0]],
                                bool(metas) or match_all)
        g = (self._tree_flags_local if local else self._tree_flags)(
            fan, all_terms, phrases, metas, match_all, len(cids))
        if g is None:
            return None, False

        # ---- the tree as Catalyst expressions over the flags. Each
        # node's match expression is built once and reused where score()
        # gates on it: every Column costs py4j round-trips.
        built: dict[int, object] = {}

        def matched(x):
            if id(x) not in built:
                built[id(x)] = match_expr(x)
            return built[id(x)]

        def match_expr(x):
            if isinstance(x, tuple):
                kind, i = x[0], x[1]
                col = f"_m{i}" if kind == "t" else f"_f{i}"
                return F.coalesce(F.col(col), F.lit(0)) == 1
            sh = [matched(c) for c in x["should"]]
            msm = x["msm"]
            if msm > len(sh):
                return F.lit(False)  # ES: unsatisfiable msm, not error
            conds = ([matched(c) for c in x["must"]]
                     + [matched(c) for c in x["filter"]]
                     + [~matched(c) for c in x["must_not"]])
            # ES default: with no must/filter, >= 1 should must match
            eff = msm if msm > 0 else (
                0 if (x["must"] or x["filter"]) else (1 if sh else 0))
            if eff == 1 and sh:
                conds.append(reduce(or_, sh))
            elif eff > 1:
                conds.append(reduce(
                    lambda a, b: a + b,
                    [c.cast("int") for c in sh]) >= F.lit(eff))
            return reduce(and_, conds) if conds else F.lit(True)

        def score(x):
            if isinstance(x, tuple):
                kind, i = x[0], x[1]
                if kind != "t":
                    return F.lit(0.0)
                base = F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
                # weighted leaf: (kind, i, boost)
                return base * F.lit(x[2]) if len(x) == 3 else base
            kids = x["must"] + x["should"]
            if not kids:
                return F.lit(0.0)
            total = reduce(
                lambda a, b: a + b,
                [F.when(matched(c), score(c)).otherwise(0.0)
                 for c in kids])
            w = x.get("boost", 1.0)
            return total * F.lit(w) if w != 1.0 else total

        return (g.filter(matched(root))
                .select("doc_id", score(root).alias("score")), local)

    def _tree_flags(self, fan, all_terms, phrases, metas, match_all: bool,
                    n_cids: int):
        """A bool tree's clause rows and their ONE aggregation: per doc,
        the `_m<cid>` match flag and `_s<cid>` score sum of every clause
        and the `_f<j>` flag of every meta filter group — or None when no
        row source remains. Distributed: ONE pruned scan of the term
        partials fanned to their clauses by a broadcast term->cid map,
        the phrase relations, and pushed-down doc_store id streams."""
        parts = []
        if all_terms:
            fan_df = self.spark.createDataFrame(fan, "term string, cid int")
            parts.append(
                self._term_scores(all_terms)
                .join(F.broadcast(fan_df), "term")
                .select("doc_id", "cid", "score"))
        for i, plan in phrases:
            rel = self._phrase_scores(plan)
            if rel is not None:
                parts.append(rel.select(
                    "doc_id", F.lit(i).cast("int").alias("cid"),
                    "score"))
        for j, mcl in enumerate(metas):
            parts.append(
                self.doc_store().filter(_meta_filter_pred(mcl))
                .select("doc_id", F.lit(-(j + 1)).alias("cid"),
                        F.lit(0.0).alias("score")))
        if match_all:
            parts.append(self.doc_store().select(
                "doc_id", F.lit(-1000000).alias("cid"),
                F.lit(0.0).alias("score")))
        if not parts:
            return None
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        aggs = []
        for i in range(n_cids):
            c = F.col("cid") == i
            aggs.append(F.max(F.when(c, 1)).alias(f"_m{i}"))
            aggs.append(F.sum(F.when(c, F.col("score")))
                        .alias(f"_s{i}"))
        for j in range(len(metas)):
            aggs.append(F.max(F.when(F.col("cid") == -(j + 1), 1))
                        .alias(f"_f{j}"))
        return u.groupBy("doc_id").agg(*aggs)

    def _tree_flags_local(self, fan, all_terms, phrases, metas,
                          match_all: bool, n_cids: int):
        """The driver regime of _tree_flags: the same clause rows from
        pyarrow reads (term partials by _term_emitter's closure, phrase
        scores) aggregated in numpy (per-doc sums in row order) into ONE
        local relation — no Spark job. Absent clauses read 0, which the
        tree expressions coalesce their nulls to. A meta filter or
        must_not-only node reads the doc store: every doc gets a row, its
        meta columns ride along, and the SAME Catalyst predicates set the
        `_f<j>` flags as a projection over the local relation."""
        import pyarrow as pa
        import pyarrow.compute as pc

        rows = []
        if all_terms:
            live, emit = self._term_emitter(all_terms)
            part = (self._per_part_local(
                emit, live, ["doc_part", "term", "docs", "tfs", "dls"])
                if live else None)
            if part is None:
                part = pd.DataFrame(columns=["term", "doc_id", "score"])
            rows.append(part.merge(pd.DataFrame(fan, columns=["term", "cid"]),
                                   on="term")[["doc_id", "cid", "score"]])
        for i, plan in phrases:
            sc = self._phrase_scores(plan, frame=False)
            if sc is not None:
                rows.append(sc.assign(cid=i))
        if metas or match_all:
            import pyarrow.parquet as pq

            cols = sorted({c for mcl in metas for _, c, _ in mcl} - {"doc_id"})
            store = pq.read_table(os.path.join(self.index_dir, "doc_store"),
                                  columns=["doc_id"] + cols)
            rows.append(pd.DataFrame({
                "doc_id": store["doc_id"].to_numpy().astype(np.int64),
                "cid": -1000000, "score": 0.0}))
        if not rows:
            return None
        u = pd.concat(rows, ignore_index=True)
        ids, inv = np.unique(u["doc_id"].to_numpy(np.int64),
                             return_inverse=True)
        cid = u["cid"].to_numpy(np.int64)
        score = u["score"].to_numpy(np.float64)
        flags = {"doc_id": pa.array(ids)}
        for i in range(n_cids):
            sel = cid == i
            flags[f"_m{i}"] = pa.array(
                (np.bincount(inv[sel], minlength=ids.size) > 0)
                .astype(np.int32))
            flags[f"_s{i}"] = pa.array(np.bincount(
                inv[sel], weights=score[sel], minlength=ids.size))
        if metas:
            at = pc.index_in(flags["doc_id"],
                             value_set=store["doc_id"].cast(pa.int64()))
            flags.update({c: store[c].take(at) for c in cols})
        g = self.spark.createDataFrame(pa.table(flags))
        if not metas:
            return g
        return g.select("*", *[F.when(_meta_filter_pred(mcl), 1)
                               .alias(f"_f{j}")
                               for j, mcl in enumerate(metas)])

    def search_boosting(self, positive, negative, k: int, *,
                        negative_boost: float = 0.5,
                        _raw: bool = False) -> DataFrame:
        """ES `boosting` query: docs matching the positive OR-disjunction
        score BM25 as usual; docs ALSO matching the negative disjunction
        have that score multiplied by negative_boost (ES demotes, never
        excludes). Exact semantics over EVERY positive-matching doc:
        final = round(bm25(positive) * factor, 6), (score desc, doc_id
        asc) top-k. The reference issues no boosting body; this is the
        surrounding ES surface a switching user expects.

        Demotion can promote docs from arbitrarily deep in the positive
        ranking, so a fixed over-fetch is NOT exact. Two regimes:

        - pruned (default, negative_boost <= 1): probe positive top-m
          (block-max WAND) with doubling m; negative membership is
          fetched ONLY for the m candidates via the candidate-part-
          pruned scan (_scores_for_docs — a hot negative term never
          contributes its full posting relation). Stop proof: WAND order
          gives every unscanned doc raw positive score <= the m-th
          scanned score s_m, and factor <= 1 keeps final <= raw
          positive; once s_m < (k-th best candidate final) - 1e-6, 6dp
          HALF_UP rounding (monotone, moves a value < 5e-7) puts every
          unscanned doc strictly below the rounded top-k, ties included
          (the _part_topk margin argument). Positive exhausted (< m
          rows) is also exact: the candidate set is complete.
        - distributed fallback (pool would exceed BOOL_DRIVER_CAP
          rows, or negative_boost > 1 where "demotion" is promotion and
          the bound inverts): complete score_all(positive) relation
          left-joined to the distinct negative membership — every
          positive match scored exactly once, no driver gather.

        Both regimes share one Catalyst tail (_boosting_tail), so
        scores and 6dp rounding are bit-identical (pytest-pinned).
        """
        nb = float(negative_boost)
        if nb < 0:
            raise ValueError("negative_boost must be >= 0")
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_boosting(
                positive, negative, kk, negative_boost=nb, _raw=True))
        pos = (self.analyze_query(positive) if isinstance(positive, str)
               else list(positive))
        neg = (self.analyze_query(negative) if isinstance(negative, str)
               else list(negative))
        pos = sorted(set(pos))
        dfs = self.term_dfs(pos)
        pos = [t for t in pos if dfs.get(t, 0) > 0]
        if not pos:
            return self.spark.createDataFrame(
                [], "rank bigint, doc_id bigint, score double")
        ndfs = self.term_dfs(sorted(set(neg)))
        neg = sorted(t for t in set(neg) if ndfs.get(t, 0) > 0)
        # sum of positive dfs >= distinct positive matches: when it fits
        # the driver cap the probe loop is guaranteed to terminate exactly
        pos_bound = sum(int(dfs[t]) for t in pos)
        if nb <= 1.0:
            cap = min(BOOL_DRIVER_CAP, pos_bound)
            m = min(max(4 * k, 64), cap)
            while m > 0:
                cand = (self.search(pos, m, mode="wand", _raw=True)
                        .toPandas().sort_values("rank"))
                exhausted = len(cand) < m or m >= pos_bound
                ids = cand["doc_id"].to_numpy(np.int64)
                raw = cand["score"].to_numpy(np.float64)
                is_neg = (np.isin(ids, self._scores_for_docs(neg, ids)
                                  ["doc_id"].to_numpy(np.int64))
                          if neg and len(ids) else
                          np.zeros(len(ids), dtype=bool))
                final = raw * np.where(is_neg, nb, 1.0)
                proven = (len(final) >= k and raw[-1] < np.partition(
                    final, len(final) - k)[len(final) - k] - 1e-6)
                if exhausted or proven:
                    rel = self.spark.createDataFrame(
                        pd.DataFrame({"doc_id": ids, "score": raw,
                                      "neg": is_neg}),
                        "doc_id bigint, score double, neg boolean")
                    return self._boosting_tail(rel, nb, k)
                if m >= cap:
                    break
                m = min(m * 8, cap)
        rel = self.score_all(pos)
        if neg:
            negdocs = (self._term_docs(neg).select("doc_id").distinct()
                       .withColumn("neg", F.lit(True)))
            rel = (rel.join(negdocs, "doc_id", "left")
                   .na.fill({"neg": False}))
        else:
            rel = rel.withColumn("neg", F.lit(False))
        return self._boosting_tail(rel, nb, k)

    def search_function_score(self, query, field: str, k: int, *,
                              factor: float = 1.0, modifier: str = "none",
                              missing: float = 1.0,
                              boost_mode: str = "multiply",
                              _raw: bool = False) -> DataFrame:
        """ES `function_score` with a `field_value_factor` function:
        final = round(bm25(query) OP f(doc_field), 6) over EVERY
        matching doc, where f = modifier(factor * coalesce(field,
        missing)), modifier in {none, log1p, sqrt}, OP = boost_mode
        {multiply, sum} — the boost-by-popularity/recency shape an ES
        user reaches for next after plain relevance.

        Like `boosting`, the per-doc factor can promote docs from
        arbitrarily deep in the BM25 ranking, so a fixed over-fetch is
        not exact. Regimes:

        - pruned: one tiny agg reads the corpus-wide min/max of f off
          the doc store (a column min/max — parquet-footer statistics at
          scale), then a WAND-probed candidate loop: for multiply (needs
          f >= 0 corpus-wide, checked against the min) every unscanned
          doc's final <= s_m * F_max; for sum, <= s_m + F_max — once
          that bound falls 1e-6 below the k-th candidate final the
          rounded top-k is proven (same margin argument as
          search_boosting). Candidate field values arrive via a
          broadcast join of <= m rows against the doc store.
        - distributed fallback (pool exceeds BOOL_DRIVER_CAP, or
          f < 0 somewhere under multiply): complete score_all(query)
          joined to the doc store's (doc_id, field) columns.

        Both regimes share one Catalyst tail so scores and 6dp rounding
        are bit-identical (pytest-pinned).
        """
        if boost_mode not in ("multiply", "sum"):
            raise ValueError("boost_mode must be multiply or sum")
        if modifier not in ("none", "log1p", "sqrt"):
            raise ValueError("modifier must be none, log1p or sqrt")
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_function_score(
                query, field, kk, factor=factor, modifier=modifier,
                missing=missing, boost_mode=boost_mode, _raw=True))
        fexpr = F.lit(float(factor)) * F.coalesce(
            F.col(field).cast("double"), F.lit(float(missing)))
        if modifier == "log1p":
            fexpr = F.log1p(fexpr)
        elif modifier == "sqrt":
            fexpr = F.sqrt(fexpr)
        store = self.doc_store().select(
            "doc_id", fexpr.alias("fval"))
        if isinstance(query, dict):
            # bool-TREE inner query: the complete single-scan tree
            # relation joined to the factor column is exact — no probe
            rel = self._bool_tree_rel(query)
            if rel is None:
                return self.spark.createDataFrame(
                    [], "rank bigint, doc_id bigint, score double")
            return self._function_tail(rel.join(store, "doc_id", "left"),
                                       boost_mode, k)
        terms = (self.analyze_query(query) if isinstance(query, str)
                 else list(query))
        terms = sorted(set(terms))
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t, 0) > 0]
        if not terms:
            return self.spark.createDataFrame(
                [], "rank bigint, doc_id bigint, score double")
        pos_bound = sum(int(dfs[t]) for t in terms)
        if pos_bound <= BOOL_DRIVER_CAP:
            row = store.agg(F.min("fval").alias("lo"),
                            F.max("fval").alias("hi")).collect()[0]
            f_lo = float(row["lo"]) if row["lo"] is not None else 0.0
            f_hi = float(row["hi"]) if row["hi"] is not None else 0.0
            prunable = boost_mode == "sum" or f_lo >= 0.0
            m = min(max(4 * k, 64), pos_bound)
            while prunable and m > 0:
                cand = (self.search(terms, m, mode="wand", _raw=True)
                        .toPandas().sort_values("rank"))
                exhausted = len(cand) < m or m >= pos_bound
                ids = cand["doc_id"].to_numpy(np.int64)
                raw = cand["score"].to_numpy(np.float64)
                cdf = self.spark.createDataFrame(
                    pd.DataFrame({"doc_id": ids}), "doc_id bigint")
                fv = {r["doc_id"]: r["fval"] for r in store.join(
                    F.broadcast(cdf), "doc_id", "left_semi").collect()}
                fvals = np.array([fv.get(int(i), 0.0) for i in ids])
                final = (raw * fvals if boost_mode == "multiply"
                         else raw + fvals)
                if len(final) >= k:
                    theta = np.partition(
                        final, len(final) - k)[len(final) - k]
                    bound = (raw[-1] * f_hi if boost_mode == "multiply"
                             else raw[-1] + f_hi)
                    proven = bound < theta - 1e-6
                else:
                    proven = False
                if exhausted or proven:
                    rel = self.spark.createDataFrame(
                        pd.DataFrame({"doc_id": ids, "score": raw,
                                      "fval": fvals}),
                        "doc_id bigint, score double, fval double")
                    return self._function_tail(rel, boost_mode, k)
                if m >= pos_bound:
                    break
                m = min(m * 8, pos_bound)
        rel = self.score_all(terms).join(store, "doc_id", "left")
        return self._function_tail(rel, boost_mode, k)

    def _function_tail(self, rel: DataFrame, boost_mode: str,
                       k: int) -> DataFrame:
        """Shared combine + round + top-k tail over (doc_id, score,
        fval) — both search_function_score regimes run these exact
        expressions."""
        fv = F.coalesce(F.col("fval"), F.lit(0.0))
        combined = (F.col("score") * fv if boost_mode == "multiply"
                    else F.col("score") + fv)
        rounded = rel.select(
            "doc_id", F.round(combined, 6).alias("score"))
        topk = rounded.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score")

    def search_function_score_fns(self, query, functions, k: int, *,
                                  score_mode: str = "multiply",
                                  boost_mode: str = "multiply",
                                  max_boost=None,
                                  _raw: bool = False) -> DataFrame:
        """ES `function_score` with a FUNCTIONS list: filter+weight
        functions and (r5) filter+`field_value_factor` functions — each
        function fires on the docs matching its filter-context clause
        (no filter = every doc) and contributes
        s_i = weight_i * u_i, where u_i is the underlying function
        value (1 for weight-only, modifier(factor * coalesce(field,
        missing)) for field_value_factor). Firing contributions combine
        under `score_mode` {multiply, sum, max, min, first, avg} — avg
        is ES's WEIGHTED mean sum(w_i*u_i)/sum(w_i) over the firing
        functions (weights double as averaging weights; weight-only
        functions therefore average to exactly 1, the documented ES
        quirk), so zero/negative weights reject under avg (the mean
        would be undefined at weightSum 0). The combination is capped
        at `max_boost`, and `boost_mode` {multiply, sum} applies it to
        the BM25 query score. A doc matched by NO function keeps its
        query score unchanged (the documented ES behavior), so the cap
        never touches unboosted docs.

        Filters reuse the bool filter-context grammar (_parse_filters):
        {"match": ...} clauses are postings MEMBERSHIP (no scoring
        pass), {"term"|"terms"|"range"|"exists": ...} push down to the
        doc_store parquet. A match clause whose text analyzes to
        nothing matches ALL docs (same leniency as the bool adapter).

        Like field_value_factor, a weight can promote docs from
        arbitrarily deep in the BM25 ranking, so regimes mirror
        search_function_score:

        - pruned (pos_bound <= BOOL_DRIVER_CAP, every weight >= 0, and
          NO field_value_factor function — a per-doc factor needs the
          complete relation, like search_function_score's fallback):
          WAND-probed candidate loop; the max achievable combined
          factor F_hi is computed from the weights alone on the driver
          (multiply: product of weights > 1; sum: total; max/min/first:
          max weight — all upper bounds over non-empty firing subsets
          when weights are non-negative, then capped at max_boost and
          floored at the no-match factor), so every unscanned doc's
          final <= s_m * max(F_hi, 1) (multiply) or s_m + max(F_hi, 0)
          (sum) — once that falls 1e-6 below the k-th candidate final
          the rounded top-k is proven. Candidate membership arrives via
          broadcast semi-joins of <= m ids against the pruned postings
          scan / doc_store.
        - distributed fallback: complete score_all(query) left-joined
          to each function's full membership relation.

        Both regimes share one Catalyst tail (_functions_tail) so
        scores and 6dp rounding are bit-identical (pytest-pinned).
        """
        if boost_mode not in ("multiply", "sum"):
            raise ValueError("boost_mode must be multiply or sum")
        if score_mode not in ("multiply", "sum", "max", "min", "first",
                              "avg"):
            raise ValueError(
                "score_mode must be multiply, sum, max, min, first "
                "or avg")
        if not functions:
            raise ValueError("function_score needs a non-empty "
                             "functions list")
        parsed = []  # (weight, filt_clauses, meta_clauses, fvf|None)
        for fn in functions:
            if not isinstance(fn, dict):
                raise ValueError("each function must be a dict")
            extra = set(fn) - {"filter", "weight", "field_value_factor"}
            if extra:
                raise ValueError(
                    f"unsupported function keys {sorted(extra)}: only "
                    "weight / field_value_factor functions with an "
                    "optional filter are supported")
            w = float(fn.get("weight", 1.0))
            fvf = None
            if "field_value_factor" in fn:
                v = fn["field_value_factor"]
                if not isinstance(v, dict) or "field" not in v:
                    raise ValueError(
                        "field_value_factor needs {'field': ...}")
                modifier = str(v.get("modifier", "none")).lower()
                if modifier not in ("none", "log1p", "sqrt"):
                    raise ValueError(
                        "modifier must be none, log1p or sqrt")
                fvf = (str(v["field"]), float(v.get("factor", 1.0)),
                       modifier, float(v.get("missing", 1.0)))
            if "filter" in fn:
                fc, mc = self._parse_filters([fn["filter"]])
            else:
                fc, mc = [], []
            parsed.append((w, fc, mc, fvf))
        ws = [p[0] for p in parsed]
        if score_mode == "avg" and any(w <= 0.0 for w in ws):
            raise ValueError(
                "score_mode 'avg' needs every weight > 0 (ES's "
                "weighted mean is undefined at zero total weight)")
        has_fvf = any(p[3] is not None for p in parsed)
        mb = float(max_boost) if max_boost is not None else None
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_function_score_fns(
                query, functions, kk, score_mode=score_mode,
                boost_mode=boost_mode, max_boost=max_boost, _raw=True))
        n = len(parsed)
        if isinstance(query, dict):
            # bool-TREE inner query (the ES function_score-over-bool
            # composition): the single-scan tree relation is already the
            # COMPLETE match set with exact scores, so the membership
            # join + shared tail below is exact without any probe —
            # no pruned regime needed
            rel = self._bool_tree_rel(query)
            if rel is None:
                return self.spark.createDataFrame(
                    [], "rank bigint, doc_id bigint, score double")
            return self._functions_over_rel(rel, parsed, ws, score_mode,
                                            boost_mode, mb, k)
        terms = (self.analyze_query(query) if isinstance(query, str)
                 else list(query))
        terms = sorted(set(terms))
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t, 0) > 0]
        if not terms:
            return self.spark.createDataFrame(
                [], "rank bigint, doc_id bigint, score double")
        pos_bound = sum(int(dfs[t]) for t in terms)
        prunable = (pos_bound <= BOOL_DRIVER_CAP
                    and all(w >= 0.0 for w in ws) and not has_fvf)
        if prunable:
            if score_mode == "multiply":
                gt1 = [w for w in ws if w > 1.0]
                f_hi = max(ws)
                if gt1:
                    f_hi = 1.0
                    for w in gt1:
                        f_hi *= w
            elif score_mode == "sum":
                f_hi = sum(ws)
            elif score_mode == "avg":
                # weighted mean of weight-only contributions (u_i = 1)
                # is exactly 1 over any firing subset
                f_hi = 1.0
            else:
                f_hi = max(ws)
            if mb is not None:
                f_hi = min(f_hi, mb)
            hi_eff = (max(f_hi, 1.0) if boost_mode == "multiply"
                      else max(f_hi, 0.0))
            m = min(max(4 * k, 64), pos_bound)
            while m > 0:
                cand = (self.search(terms, m, mode="wand", _raw=True)
                        .toPandas().sort_values("rank"))
                exhausted = len(cand) < m or m >= pos_bound
                ids = cand["doc_id"].to_numpy(np.int64)
                raw = cand["score"].to_numpy(np.float64)
                cdf = F.broadcast(self.spark.createDataFrame(
                    pd.DataFrame({"doc_id": ids}), "doc_id bigint"))
                flags = []
                for w, fc, mc, _fvf in parsed:
                    if not fc and not mc:
                        flags.append(np.ones(len(ids), dtype=bool))
                        continue
                    member = None
                    for toks in fc:
                        got = {r["doc_id"] for r in self._term_docs(toks)
                               .select("doc_id").distinct()
                               .join(cdf, "doc_id", "left_semi").collect()}
                        member = got if member is None else (member & got)
                    if mc:
                        got = {r["doc_id"] for r in self.doc_store()
                               .filter(_meta_filter_pred(mc))
                               .select("doc_id")
                               .join(cdf, "doc_id", "left_semi").collect()}
                        member = got if member is None else (member & got)
                    if member:
                        arr = np.fromiter(member, np.int64, len(member))
                        flags.append(np.isin(ids, arr))
                    else:
                        flags.append(np.zeros(len(ids), dtype=bool))
                matched = np.zeros(len(ids), dtype=bool)
                for f in flags:
                    matched |= f
                if score_mode == "multiply":
                    comb = np.ones(len(ids))
                    for f, w in zip(flags, ws):
                        comb *= np.where(f, w, 1.0)
                elif score_mode == "sum":
                    comb = np.zeros(len(ids))
                    for f, w in zip(flags, ws):
                        comb += np.where(f, w, 0.0)
                elif score_mode == "max":
                    comb = np.full(len(ids), -np.inf)
                    for f, w in zip(flags, ws):
                        comb = np.maximum(comb, np.where(f, w, -np.inf))
                elif score_mode == "min":
                    comb = np.full(len(ids), np.inf)
                    for f, w in zip(flags, ws):
                        comb = np.minimum(comb, np.where(f, w, np.inf))
                elif score_mode == "avg":
                    # weight-only (fvf never reaches this regime):
                    # sum(w*1)/sum(w) over firing = 1 wherever matched
                    comb = np.ones(len(ids))
                else:  # first
                    comb = np.zeros(len(ids))
                    assigned = np.zeros(len(ids), dtype=bool)
                    for f, w in zip(flags, ws):
                        take = f & ~assigned
                        comb[take] = w
                        assigned |= f
                if mb is not None:
                    comb = np.minimum(comb, mb)
                final = np.where(
                    matched,
                    raw * comb if boost_mode == "multiply" else raw + comb,
                    raw)
                if len(final) >= k:
                    theta = np.partition(
                        final, len(final) - k)[len(final) - k]
                    bound = (raw[-1] * hi_eff
                             if boost_mode == "multiply"
                             else raw[-1] + hi_eff)
                    proven = bound < theta - 1e-6
                else:
                    proven = False
                if exhausted or proven:
                    pdf = pd.DataFrame({"doc_id": ids, "score": raw})
                    for i, f in enumerate(flags):
                        pdf[f"f{i}"] = f
                    schema = ("doc_id bigint, score double, "
                              + ", ".join(f"f{i} boolean"
                                          for i in range(n)))
                    rel = self.spark.createDataFrame(pdf, schema)
                    return self._functions_tail(
                        rel, parsed, score_mode, boost_mode, mb, k)
                if m >= pos_bound:
                    break
                m = min(m * 8, pos_bound)
        return self._functions_over_rel(self.score_all(terms), parsed, ws,
                                        score_mode, boost_mode, mb, k)

    def _functions_over_rel(self, rel: DataFrame, parsed: list, ws: list,
                            score_mode: str, boost_mode: str, mb,
                            k: int) -> DataFrame:
        """Exact function_score over a COMPLETE (doc_id, score) match
        relation: left-join each function's full membership relation as
        a boolean flag (plus, for field_value_factor functions, ONE
        doc-store join carrying every needed v{i} value column), then
        the shared Catalyst tail."""
        vcols = []
        for i, p in enumerate(parsed):
            fvf = p[3]
            if fvf is None:
                continue
            field, factor, modifier, missing = fvf
            vexpr = F.lit(factor) * F.coalesce(
                F.col(field).cast("double"), F.lit(missing))
            if modifier == "log1p":
                vexpr = F.log1p(vexpr)
            elif modifier == "sqrt":
                vexpr = F.sqrt(vexpr)
            vcols.append(vexpr.alias(f"v{i}"))
        if vcols:
            rel = rel.join(self.doc_store().select("doc_id", *vcols),
                           "doc_id", "left")
        for i, (w, fc, mc, _fvf) in enumerate(parsed):
            if not fc and not mc:
                rel = rel.withColumn(f"f{i}", F.lit(True))
                continue
            mem = None
            for toks in fc:
                r = self._term_docs(toks).select("doc_id").distinct()
                mem = r if mem is None else mem.join(r, "doc_id",
                                                     "left_semi")
            if mc:
                r = (self.doc_store().filter(_meta_filter_pred(mc))
                     .select("doc_id"))
                mem = r if mem is None else mem.join(r, "doc_id",
                                                     "left_semi")
            rel = rel.join(mem.withColumn(f"f{i}", F.lit(True)),
                           "doc_id", "left")
        return self._functions_tail(rel, parsed, score_mode, boost_mode,
                                    mb, k)

    def _functions_tail(self, rel: DataFrame, parsed: list,
                        score_mode: str, boost_mode: str, mb,
                        k: int) -> DataFrame:
        """Shared combine + round + top-k tail over (doc_id, score,
        f0..f{n-1} boolean [, v{i} double for field_value_factor
        functions]) — both search_function_score_fns regimes run these
        exact expressions, so scores are bit-identical across regimes.
        Function i contributes s_i = w_i * u_i (u_i = v{i} or 1). A doc
        with no firing function keeps its query score (uncapped — the
        ES no-match contract)."""
        n = len(parsed)
        ws = [p[0] for p in parsed]
        flags = [F.coalesce(F.col(f"f{i}"), F.lit(False)) for i in range(n)]
        us = [F.col(f"v{i}") if p[3] is not None else F.lit(1.0)
              for i, p in enumerate(parsed)]
        sl = [F.lit(float(w)) * u for w, u in zip(ws, us)]
        matched = flags[0]
        for fl in flags[1:]:
            matched = matched | fl
        if score_mode == "multiply":
            combined = F.lit(1.0)
            for fl, s in zip(flags, sl):
                combined = combined * F.when(fl, s).otherwise(F.lit(1.0))
        elif score_mode == "sum":
            combined = F.lit(0.0)
            for fl, s in zip(flags, sl):
                combined = combined + F.when(fl, s).otherwise(F.lit(0.0))
        elif score_mode == "max":
            parts = [F.when(fl, s) for fl, s in zip(flags, sl)]
            combined = parts[0] if n == 1 else F.greatest(*parts)
        elif score_mode == "min":
            parts = [F.when(fl, s) for fl, s in zip(flags, sl)]
            combined = parts[0] if n == 1 else F.least(*parts)
        elif score_mode == "avg":
            # ES weighted mean: sum(w_i*u_i)/sum(w_i) over FIRING
            # functions; weights validated > 0, and the division is
            # only consumed under `matched` (denominator 0 -> null ->
            # the otherwise() branch)
            num = F.lit(0.0)
            den = F.lit(0.0)
            for fl, s, w in zip(flags, sl, ws):
                num = num + F.when(fl, s).otherwise(F.lit(0.0))
                den = den + F.when(fl, F.lit(float(w))).otherwise(
                    F.lit(0.0))
            combined = num / F.when(den > 0, den)
        else:  # first: the first firing function in list order
            combined = F.coalesce(
                *[F.when(fl, s) for fl, s in zip(flags, sl)], F.lit(0.0))
        if mb is not None:
            combined = F.least(combined, F.lit(float(mb)))
        op = (F.col("score") * combined if boost_mode == "multiply"
              else F.col("score") + combined)
        rounded = rel.select(
            "doc_id",
            F.round(F.when(matched, op).otherwise(F.col("score")),
                    6).alias("score"))
        topk = rounded.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score")

    def _boosting_tail(self, rel: DataFrame, nb: float, k: int) -> DataFrame:
        """Shared demote + round + top-k tail over (doc_id, score, neg) —
        both search_boosting regimes run these exact expressions."""
        rounded = rel.select(
            "doc_id",
            F.round(
                F.col("score")
                * F.when(F.col("neg"), F.lit(nb)).otherwise(F.lit(1.0)),
                6).alias("score"))
        topk = rounded.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score")

    def explain(self, query, doc_ids: list[int]) -> DataFrame:
        """Per-term BM25 score breakdown for specific docs — the engine-path
        analog of es.explain (the reference extracts its BM25 ranking
        feature that way, /root/reference/wapo/experiments/ranking.py:40-52).

        Returns (doc_id, term, tf, dl, idf, partial) where
        sum(partial) grouped by doc_id equals search()'s score exactly
        (asserted in tests). Plan: the same pruned positional-free segment
        scan as search(), with decoding restricted to the requested docs.
        """
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        terms = sorted(set(terms))
        out_schema = ("doc_id bigint, term string, tf bigint, dl bigint, "
                      "idf double, partial double")
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t, 0) > 0]
        if not terms or not doc_ids:
            return self._empty(out_schema)
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        n_buckets = int(self.stats["n_buckets"])
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in terms}
        buckets = sorted({term_bucket(t, n_buckets) for t in terms})
        want = np.array(sorted(set(int(d) for d in doc_ids)), dtype=np.int64)
        seg = (
            self._segments
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
            .select("doc_part", "term", "docs", "tfs", "dls")
        )

        def explain_group(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = []
            for row in pdf.itertuples(index=False):
                ids, tfs, dls = decode_postings(row.docs, row.tfs, row.dls)
                m = np.isin(ids, want)
                if not m.any():
                    continue
                idf = idf_map[row.term]
                part = idf * tf_norm(
                    tfs[m].astype(np.float64), dls[m].astype(np.float64),
                    k1=k1, b=b, avgdl=avgdl,
                )
                outs.append(pd.DataFrame({
                    "doc_id": ids[m], "term": row.term,
                    "tf": tfs[m], "dl": dls[m],
                    "idf": idf, "partial": part,
                }))
            if not outs:
                return pd.DataFrame({
                    "doc_id": pd.Series([], dtype=np.int64),
                    "term": pd.Series([], dtype=object),
                    "tf": pd.Series([], dtype=np.int64),
                    "dl": pd.Series([], dtype=np.int64),
                    "idf": pd.Series([], dtype=np.float64),
                    "partial": pd.Series([], dtype=np.float64),
                })
            return pd.concat(outs, ignore_index=True)

        return self._by_part(seg).applyInPandas(explain_group, out_schema)

    def search_phrase_prefix(self, phrase, k: int, *,
                             max_expansions: int = 50, slop: int = 0,
                             _raw: bool = False) -> DataFrame:
        """ES match_phrase_prefix: the last phrase term is treated as a
        PREFIX, expanded against the term dictionary (bounded by
        max_expansions like ES), and a doc matches where the fixed terms
        appear consecutively followed by ANY expansion. Scored like
        search_phrase with tf = total such occurrences. Runs on the
        positional index — same pruned-scan plan as search_phrase with the
        expansions unioned into the last position's posting set.

        slop > 0 (r5): the sloppy acceptance over the same scan — the
        prefix slot's per-doc positions are the union of the expansions'
        positions, fed to the fixed-term sloppy window sweep; tf keeps
        the participating-start convention. Fixed terms must be distinct
        and disjoint from the expansion set (injectivity; enforced)."""
        if not self.stats.get("with_positions"):
            raise ValueError(
                "index was built with with_positions=False; phrase search "
                "needs the positional sidecar (IndexConfig.with_positions)"
            )
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_phrase_prefix(
                phrase, kk, max_expansions=max_expansions, slop=slop,
                _raw=True))
        terms = self.analyze_query(phrase) if isinstance(phrase, str) else list(phrase)
        if not terms:
            return self._empty()
        slop = int(slop)
        if slop < 0:
            raise ValueError("slop must be >= 0")
        # candidates contain every fixed term followed by any expansion
        # (bound: min fixed df; a pure prefix: the expansions' summed df)
        plan = self._phrase_plan(terms[:-1], slop,
                                 self.expand_prefix(terms[-1], max_expansions))
        if plan is None:
            return self._empty()
        return self._phrase_topk(*plan, k=k)

    def search_many(self, queries: dict, k: int, mode: str = "taat",
                    _raw: bool = False) -> DataFrame:
        """Batched retrieval: MANY queries against the warm index in one
        pass. `queries` maps query_id -> raw text or term list.

        Returns (query_id string, rank bigint, doc_id bigint, score double),
        per-query top-k, identical per query to `search()` (asserted in
        tests). This is the throughput shape at scale: the reference loops
        es.search per topic (keyword_match_recall.py:39-50) and pays a full
        scatter-gather round-trip per query; here the pruned segment union
        is scanned once, every doc_part group scores all queries against
        postings it decodes ONCE per term, and a per-query merge takes the
        top-k. Under SEARCH_DRIVER_CAP on a warm index (taat) that pass
        runs on the driver over a pyarrow read with no Spark job; above
        it ONE job amortizes the per-query Spark-job overhead — the
        scaling-efficiency killer for sequential single-query loops —
        across the whole batch.
        """
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_many(
                queries, kk, mode=mode, _raw=True))
        qterms = {
            str(qid): sorted(set(
                self.analyze_query(q) if isinstance(q, str) else list(q)
            ))
            for qid, q in queries.items()
        }
        # Dedupe identical analyzed queries: batch workloads (eval sweeps,
        # repeated topics) often contain the same query under many ids —
        # score each DISTINCT term list once and fan results back out.
        canon: dict[tuple, str] = {}
        alias: dict[str, str] = {}
        for qid, ts in qterms.items():
            key = tuple(ts)
            if key in canon:
                alias[qid] = canon[key]
            else:
                canon[key] = qid
        qterms = {qid: ts for qid, ts in qterms.items() if qid not in alias}
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        n_buckets = int(self.stats["n_buckets"])

        dfs = self.term_dfs(all_terms)
        live = sorted(t for t in all_terms if dfs.get(t, 0) > 0)
        out_schema = "query_id string, rank bigint, doc_id bigint, score double"
        live_set = set(live)
        qlive = {qid: [t for t in ts if t in live_set]
                 for qid, ts in qterms.items()}
        qlive = {qid: ts for qid, ts in qlive.items() if ts}
        if not qlive:
            return self._empty(out_schema)

        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in live}
        doc_range = int(self.stats["doc_range"])
        scorer = _make_multi_scorer(qlive, idf_map, k1=k1, b=b,
                                    avgdl=avgdl, k=k, mode=mode,
                                    doc_range=doc_range)
        cols = list(_SCORE_COLS)
        # Per-part output is already top-k per query, so the global answer
        # is a merge of <= n_parts * n_queries * k rows — a PROVEN bound
        # known before any job. Driver regime (taat, warm, Σdf under
        # SEARCH_DRIVER_CAP): the SAME per-part scorer runs over a pyarrow
        # read and the merge below finishes the batch — no Spark job.
        # Otherwise, under MANY_DRIVER_CAP, merge on the driver after ONE
        # distributed stage (scan -> shuffle -> score), skipping the
        # per-query window exchange whose ~n_queries distinct keys skew
        # and cap reduce-side parallelism (the r3 batch-scaling
        # bottleneck). Above it (10^12-doc part counts), the distributed
        # window runs.
        n_parts = -(-int(self.stats["n_docs"]) // max(1, doc_range))
        if mode == "taat" and self._driver_ok(live):
            pdf = self._per_part_local(scorer, live, cols)
        else:
            buckets = sorted({term_bucket(t, n_buckets) for t in live})
            seg = (
                self._segments
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("term").isin(live))
                .select(*cols)
            )
            per_part = self._by_part(seg).applyInPandas(
                scorer, "query_id string, doc_id bigint, score double"
            )
            if max(1, n_parts) * len(qlive) * k > MANY_DRIVER_CAP:
                w = Window.partitionBy("query_id").orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
                out = (
                    per_part
                    .withColumn("rank",
                                (F.row_number().over(w) - 1).cast("bigint"))
                    .filter(F.col("rank") < k)
                    .select("query_id", "rank", "doc_id", "score")
                )
                if alias:
                    amap = self.spark.createDataFrame(
                        [(a, c) for a, c in alias.items()],
                        "alias_id string, query_id string",
                    )
                    dup = out.join(F.broadcast(amap), "query_id").select(
                        F.col("alias_id").alias("query_id"), "rank", "doc_id",
                        "score",
                    )
                    out = out.unionByName(dup)
                return out
            pdf = per_part.toPandas()
        if pdf is None or not len(pdf):
            return self._empty(out_schema)
        # numpy merge: hash-factorize the query ids (no string sort),
        # one lexsort by (query, score desc, doc_id asc), vectorized
        # within-query ranks — a pandas sort_values over ~1M rows was
        # the measured single-threaded floor of the batch path
        qcode, _ = pd.factorize(pdf["query_id"], sort=False)
        scores = pdf["score"].to_numpy(np.float64)
        doc_ids = pdf["doc_id"].to_numpy(np.int64)
        order = np.lexsort((doc_ids, -scores, qcode))
        qs = qcode[order]
        first = np.concatenate(([0], np.flatnonzero(np.diff(qs)) + 1))
        counts = np.diff(np.append(first, qs.size))
        ranks = np.arange(qs.size) - np.repeat(first, counts)
        sel = order[ranks < k]
        top = pd.DataFrame({
            "query_id": pdf["query_id"].to_numpy()[sel],
            "rank": ranks[ranks < k],
            "doc_id": doc_ids[sel],
            "score": scores[sel],
        })
        if alias:
            frames = [top]
            for a, c in alias.items():
                dup = top[top["query_id"] == c].copy()
                dup["query_id"] = a
                frames.append(dup)
            top = pd.concat(frames, ignore_index=True)
        return _local_frame(self.spark,
                            top[["query_id", "rank", "doc_id", "score"]],
                            out_schema)


def search_dismax(field_indexes: dict, query, k: int, *,
                  tie_breaker: float = 0.0, prune: bool = True,
                  boosts: dict | None = None,
                  _raw: bool = False) -> DataFrame:
    """Multi-field best_fields retrieval over PER-FIELD segment indexes —
    the indexed form of the reference's query shape (query_string over
    [title, text], /root/reference/wapo/experiments/ranking.py:128-139).
    Each field scores with its OWN index statistics (field-local N/avgdl/
    df — ES DisjunctionMaxQuery semantics), combined as
    max + tie_breaker * (sum - max), rounded 6dp before the
    (score desc, doc_id asc) top-k cut. Exactly matches the compositional
    operators.bm25.dismax_bm25_topk (asserted in tests) without
    re-tokenizing any corpus.

    prune=True (default) runs a Fagin-style threshold algorithm first:
    per-field top-k' selects candidates, only they are fetched across
    fields (scans pruned to candidate parts), and a threshold row proves
    no excluded doc can reach the top k. The pruned result is returned
    only when that proof holds (rounded k-th score strictly above the
    rounded threshold, or every field exhausted); otherwise — and for
    tie_breaker outside [0, 1], where the combine isn't monotone — the
    exact full-relation join runs. A hot term's complete posting relation
    therefore never feeds the full_outer join in the common case.

    field_indexes: {field_name: SegmentIndex} — one index per field.
    query: one text/term-list scored against every field (the
    multi_match / query_string-over-fields shape), or a
    {field_name: text} dict — the explicit ES `dis_max` kind, where
    each sub-query carries its own text for its own field.
    boosts: optional {field_name: factor >= 0} — ES field boosts
    (`title^3`): the field's BM25 scores are multiplied by the factor
    before the DisMax combine (missing fields default 1.0).
    """
    b = {n: float((boosts or {}).get(n, 1.0)) for n in field_indexes}
    if any(v < 0 for v in b.values()):
        raise ValueError("field boosts must be >= 0")
    sis = list(field_indexes.values())
    if not _raw and any(si.n_deleted() for si in sis):
        # fields share one doc space; the per-index tombstone sets may
        # overlap, so sum(T) is an upper bound on the union — still a
        # valid over-fetch bound for the exact exclusion wrapper
        T = sum(si.n_deleted() for si in sis)
        out = search_dismax(field_indexes, query, k + T,
                            tie_breaker=tie_breaker, prune=prune,
                            boosts=boosts, _raw=True)
        for si in sis:
            out = si._exclude_dead(out)
        w = Window.orderBy(F.asc("rank"))
        return (out.withColumn(
                    "rank", (F.row_number().over(w) - 1).cast("bigint"))
                .filter(F.col("rank") < k)
                .select("rank", "doc_id", "score"))
    if prune and 0.0 <= float(tie_breaker) <= 1.0:
        # escalation ladder (VERDICT r4 #1): when the threshold proof
        # fails at k', retry with a wider per-field pool before paying
        # the exact full-relation join — each rung costs bounded
        # per-field top-k' probes, so the full fallback survives only
        # for tie_breaker outside [0, 1] or a rounded-score plateau
        # wider than DISMAX_KPRIME_CAP docs in every field
        kprime = max(2 * k, DISMAX_KPRIME_FLOOR)
        while True:
            out = _dismax_pruned(field_indexes, query, k,
                                 tie_breaker=float(tie_breaker), boosts=b,
                                 kprime=kprime)
            if out is not None:
                return out
            if kprime >= DISMAX_KPRIME_CAP:
                break
            kprime = min(kprime * 8, DISMAX_KPRIME_CAP)
    return _dismax_full(field_indexes, query, k,
                        tie_breaker=float(tie_breaker), boosts=b)


def _dismax_q(query, name: str):
    """Per-field query resolution for the DisMax family: one query for
    every field, or {field: query} (the explicit ES dis_max kind)."""
    return query[name] if isinstance(query, dict) else query


def _combine_dismax(filled: DataFrame, cols: list[str],
                    tie_breaker: float, k: int) -> DataFrame:
    """Shared DisMax combine + top-k tail (both regimes run these exact
    expressions, so scores and 6dp rounding are bit-identical)."""
    best = (F.col(cols[0]) if len(cols) == 1
            else F.greatest(*[F.col(c) for c in cols]))
    total = None
    for c in cols:
        total = F.col(c) if total is None else total + F.col(c)
    combined = F.round(
        best + F.lit(float(tie_breaker)) * (total - best), 6
    ).alias("score")
    out = filled.select("doc_id", combined)
    topk = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
        "doc_id", "score",
    )


def search_cross_fields(field_indexes: dict, query, k: int, *,
                        tie_breaker: float = 0.0,
                        boosts: dict | None = None,
                        _raw: bool = False) -> DataFrame:
    """ES multi_match `type: cross_fields` — TERM-centric multi-field
    retrieval (Lucene BlendedTermQuery), the type built for structured
    records where one CONCEPT spans fields (first/last name): each term
    must be findable in ANY field, and per-term statistics blend across
    fields so a term frequent in any one field cannot masquerade as
    rare in another. Documented semantics (the ES behavior, made exact):

    - blended df: df_b(t) = max over the queried fields of that field's
      df (the BlendedTermQuery df blend — ES inflates each field's df
      to the max so idf agrees across fields);
    - per-field partial: idf from (the FIELD's N, df_b) with the
      field's own tf/dl/avgdl norms, scaled by its `field^boost`;
    - per-term combine across fields: max + tie_breaker * (sum - max)
      (dismaxBlendedQuery; ES default tie_breaker 0 for cross_fields);
    - doc score: sum over terms (operator 'or'), rounded 6dp before
      the (score desc, doc_id asc) top-k cut.

    Plan: per field ONE pruned segment scan emits (term, doc_id,
    partial) with the blended idf substituted (`_term_scores`
    idf_override), their union feeds ONE hash aggregation pair —
    (term, doc_id) for the cross-field blend, then doc_id for the term
    sum. No corpus scan, no full-relation joins; the shuffle carries
    only matching postings.
    """
    tb = float(tie_breaker)
    if not 0.0 <= tb <= 1.0:
        raise ValueError("cross_fields tie_breaker must be in [0, 1]")
    bmap = {n: float((boosts or {}).get(n, 1.0)) for n in field_indexes}
    if any(v < 0 for v in bmap.values()):
        raise ValueError("field boosts must be >= 0")
    sis = list(field_indexes.values())
    if not _raw and any(si.n_deleted() for si in sis):
        T = sum(si.n_deleted() for si in sis)
        out = search_cross_fields(field_indexes, query, k + T,
                                  tie_breaker=tie_breaker, boosts=boosts,
                                  _raw=True)
        for si in sis:
            out = si._exclude_dead(out)
        w = Window.orderBy(F.asc("rank"))
        return (out.withColumn(
                    "rank", (F.row_number().over(w) - 1).cast("bigint"))
                .filter(F.col("rank") < k)
                .select("rank", "doc_id", "score"))
    si0 = sis[0]
    terms = (si0.analyze_query(query) if isinstance(query, str)
             else list(query))
    terms = sorted(set(terms))
    if not terms:
        return si0._empty()
    dfs_f = {n: si.term_dfs(terms) for n, si in field_indexes.items()}
    df_b = {t: max(int(dfs_f[n].get(t, 0)) for n in field_indexes)
            for t in terms}
    terms = [t for t in terms if df_b[t] > 0]
    if not terms:
        return si0._empty()
    rels = []
    for n, si in field_indexes.items():
        n_docs = float(si.stats["n_docs"])
        idf_o = {t: float(lucene_idf(n_docs, float(df_b[t])))
                 for t in terms if dfs_f[n].get(t, 0) > 0}
        rel = si._term_scores(terms, idf_override=idf_o)
        if bmap[n] != 1.0:
            rel = rel.select(
                "term", "doc_id",
                (F.col("score") * F.lit(bmap[n])).alias("score"))
        rels.append(rel)
    allp = rels[0]
    for r in rels[1:]:
        allp = allp.unionByName(r)
    per_term = (allp.groupBy("term", "doc_id")
                .agg(F.max("score").alias("mx"),
                     F.sum("score").alias("sm")))
    blended = per_term.select(
        "doc_id",
        (F.col("mx") + F.lit(tb) * (F.col("sm") - F.col("mx")))
        .alias("s"))
    scored = (blended.groupBy("doc_id")
              .agg(F.round(F.sum("s"), 6).alias("score")))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
        "doc_id", "score")


def _dismax_full(field_indexes: dict, query, k: int, *,
                 tie_breaker: float,
                 boosts: dict | None = None) -> DataFrame:
    """Exact full-relation DisMax: complete per-field score relations
    joined full_outer (the fallback regime; correct for any tie_breaker)."""
    scored = None
    cols = []
    for name, si in field_indexes.items():
        bf = float((boosts or {}).get(name, 1.0))
        s = si.score_all(_dismax_q(query, name)).select(
            "doc_id",
            (F.col("score") * F.lit(bf)).alias(f"s_{name}")
            if bf != 1.0 else F.col("score").alias(f"s_{name}"),
        )
        cols.append(f"s_{name}")
        scored = s if scored is None else scored.join(s, "doc_id", "full_outer")
    filled = scored.na.fill(0.0, cols)
    return _combine_dismax(filled, cols, tie_breaker, k)


def search_dismax_bool(field_indexes: dict, groups, k: int, *,
                       tie_breaker: float = 0.0,
                       boosts: dict | None = None,
                       per_token: bool = False) -> DataFrame:
    """Per-field DisMax over an OR-of-AND-groups grammar — the
    multi-field `query_string` conjunction/mixed shape (ES best_fields:
    the WHOLE query parses per field, per-field scores combine
    max + tie_breaker * (sum - max); cross_fields term splitting is
    `search_cross_fields` — the operator-free multi_match type).

    `groups`: list of conjunction groups, each a list of operand TEXTS
    ('a AND b OR c' = [[a, b], [c]]); each operand analyzes PER FIELD
    (field analyzers may differ) to an ES match clause (OR of its
    tokens). A field matches a doc iff the doc satisfies EVERY clause of
    >= 1 group in that field; the field score is the summed BM25 over
    its matched groups (search_mixed semantics, field-local stats). A
    doc enters the result iff >= 1 field matches.

    Plan: per field, the COMPLETE group relation via the single-scan
    tree compiler (_bool_tree_rel: one pruned scan + one aggregation
    per field — bounded by each field's most selective clause, the
    conjunction selectivity the flat bool paths prove), then the
    full_outer DisMax combine + shared Catalyst tail (_combine_dismax,
    bit-identical rounding with every other DisMax regime). Tombstones:
    per-field relations are COMPLETE, so excluding dead ids before the
    combine is exact — no over-fetch loop needed (unlike the top-k-fed
    search_dismax wrapper).

    per_token=True switches the clause unit from OPERAND to TOKEN:
    every analyzed token of every operand becomes its own required
    clause in that field (deduped + sorted — the engine's match
    operator:'and' convention) — the ES `multi_match` operator:'and'
    contract (AND between ALL tokens the field analyzer emits, so a
    camelCase word the code analyzer splits still requires BOTH
    parts). Tokens the analyzer drops (stopwords) are not required,
    like ES."""
    b = {n: float((boosts or {}).get(n, 1.0)) for n in field_indexes}
    if any(v < 0 for v in b.values()):
        raise ValueError("field boosts must be >= 0")
    sis = list(field_indexes.values())
    spark = sis[0].spark
    scored = None
    cols = []
    for name, si in field_indexes.items():
        if per_token:
            gs = [[[t] for t in sorted({t for p in g
                                        for t in si.analyze_query(p)})]
                  for g in groups]
        else:
            gs = [[si.analyze_query(p) for p in g] for g in groups]
        gs = [[c for c in g if c] for g in gs]
        gs = [g for g in gs if g]
        if not gs:
            continue
        node = ({"must": gs[0]} if len(gs) == 1 else
                {"should": [{"must": g} for g in gs]})
        rel = si._bool_tree_rel(node)
        if rel is None:
            continue
        rel = si._exclude_dead(rel)
        bf = b[name]
        s = rel.select(
            "doc_id",
            (F.col("score") * F.lit(bf)).alias(f"s_{name}")
            if bf != 1.0 else F.col("score").alias(f"s_{name}"),
        )
        cols.append(f"s_{name}")
        scored = s if scored is None else scored.join(
            s, "doc_id", "full_outer")
    if scored is None:
        return spark.createDataFrame(
            [], "rank bigint, doc_id bigint, score double")
    filled = scored.na.fill(0.0, cols)
    return _combine_dismax(filled, cols, float(tie_breaker), k)


def search_dismax_phrase(field_indexes: dict, text: str, k: int, *,
                         tie_breaker: float = 0.0,
                         boosts: dict | None = None,
                         slop: int = 0,
                         prefix: bool = False,
                         max_expansions: int = 50) -> DataFrame:
    """Per-field phrase DisMax — ES `multi_match` type:'phrase' (and,
    with prefix=True, type:'phrase_prefix'): the text analyzes PER FIELD
    to a phrase that must match consecutively (slop-relaxed when
    slop > 0) in that field; per-field phrase BM25 scores (the
    search_phrase convention — tf = occurrence count, idf over the
    PHRASE df, field-local stats) combine max + tie_breaker*(sum-max).
    prefix=True treats the LAST analyzed token of each field as a
    dictionary prefix bounded by max_expansions (the
    search_phrase_prefix convention; composes with slop > 0 via the
    sloppy matcher's union-position prefix slot).

    Plan: per field the COMPLETE phrase relation (_phrase_scores: one
    pruned positional scan bounded by the min fixed-term df — phrases
    are selective by construction), full_outer combine + the shared
    Catalyst tail (_combine_dismax), so scores round bit-identically
    with every other DisMax regime. A field where the phrase cannot
    match (absent term / zero expansions / empty analysis) contributes
    nothing, like an ES field with no phrase hits."""
    b = {n: float((boosts or {}).get(n, 1.0)) for n in field_indexes}
    if any(v < 0 for v in b.values()):
        raise ValueError("field boosts must be >= 0")
    sis = list(field_indexes.values())
    spark = sis[0].spark
    scored = None
    cols = []
    for name, si in field_indexes.items():
        ts = si.analyze_query(text)
        if not ts:
            continue
        if prefix:
            alts = sorted(si.expand_prefix(ts[-1],
                                           max_expansions=max_expansions))
            if not alts:
                continue  # zero expansions: no hits in this field
            plan = si._phrase_plan(ts[:-1], int(slop), alts)
        else:
            plan = si._phrase_plan(ts, int(slop))
        rel = None if plan is None else si._phrase_scores(plan)
        if rel is None:
            continue
        rel = si._exclude_dead(rel)
        bf = b[name]
        s = rel.select(
            "doc_id",
            (F.col("score") * F.lit(bf)).alias(f"s_{name}")
            if bf != 1.0 else F.col("score").alias(f"s_{name}"),
        )
        cols.append(f"s_{name}")
        scored = s if scored is None else scored.join(
            s, "doc_id", "full_outer")
    if scored is None:
        return spark.createDataFrame(
            [], "rank bigint, doc_id bigint, score double")
    filled = scored.na.fill(0.0, cols)
    return _combine_dismax(filled, cols, float(tie_breaker), k)


# per-field candidate pool: large enough that the threshold proof rarely
# fails at realistic score spreads, small enough to stay a driver-side set
DISMAX_KPRIME_FLOOR = 64
# escalation ceiling: a proof still failing with 2^14-deep per-field pools
# means a rounded-score plateau wider than 16k docs — fall back to exact
DISMAX_KPRIME_CAP = 1 << 14


def _dismax_pruned(field_indexes: dict, query, k: int, *,
                   tie_breaker: float,
                   boosts: dict | None = None,
                   kprime: int | None = None) -> "DataFrame | None":
    """Threshold-algorithm DisMax (rank-safe pruning, VERDICT r3 #3).

    1. Per field: top-k' by that field's own BM25 (k' = max(2k, 64)).
       tau_f = the k'-th score (0 when the field exhausted under k').
    2. Candidates C = union of the per-field pools. Any excluded doc d
       has s_f(d) <= tau_f for every f, and max + tb*(sum-max) is
       monotone in each coordinate for tb in [0,1], so
       combined(d) <= T = max(tau) + tb*(sum(tau) - max(tau)).
    3. Fetch every candidate's exact score in EVERY field (scan pruned
       to candidate doc_parts; hot terms contribute only those blocks),
       combine through the shared Catalyst tail with a virtual row
       doc_id=-1 carrying the tau vector — its output IS round6(T).
    4. Proof: >= k real candidates strictly above round6(T) (or every
       field exhausted, i.e. C is the complete match set) -> the pruned
       top-k equals the exact top-k. Otherwise return None (fallback).
    """
    names = list(field_indexes)
    pools: dict[str, list] = {}
    taus: dict[str, float] = {}
    exhausted = True
    if kprime is None:
        kprime = max(2 * k, DISMAX_KPRIME_FLOOR)
    cand: set[int] = set()
    for name in names:
        bf = float((boosts or {}).get(name, 1.0))
        rows = field_indexes[name].search(
            _dismax_q(query, name), kprime).collect()
        pools[name] = rows
        if len(rows) == kprime:
            # boost > 0 preserves the per-field order, so the pool is
            # still the field's true top-k'; tau moves into boosted space
            taus[name] = float(rows[-1]["score"]) * bf
            exhausted = False
        else:
            taus[name] = 0.0  # field exhausted: every match is in C
        cand.update(r["doc_id"] for r in rows)
    spark = next(iter(field_indexes.values())).spark
    if not cand:
        return spark.createDataFrame(
            [], "rank bigint, doc_id bigint, score double"
        )
    ids = np.sort(np.fromiter(cand, dtype=np.int64))
    merged = pd.DataFrame({"doc_id": ids})
    cols = []
    for name in names:
        si = field_indexes[name]
        bf = float((boosts or {}).get(name, 1.0))
        q = _dismax_q(query, name)
        terms = (si.analyze_query(q) if isinstance(q, str)
                 else list(q))
        spdf = si._scores_for_docs(terms, ids)
        if bf != 1.0:
            # float64 multiply, the same IEEE op the full path's
            # Catalyst `score * lit(bf)` performs — bit-identical
            spdf["score"] = spdf["score"].to_numpy(np.float64) * bf
        col = f"s_{name}"
        cols.append(col)
        merged = merged.merge(spdf.rename(columns={"score": col}),
                              on="doc_id", how="left")
    merged[cols] = merged[cols].fillna(0.0)
    thresh = pd.DataFrame([{"doc_id": -1,
                            **{f"s_{n}": taus[n] for n in names}}])
    local = spark.createDataFrame(
        pd.concat([merged, thresh], ignore_index=True),
        "doc_id bigint, " + ", ".join(f"{c} double" for c in cols),
    )
    # rank over candidates + virtual row, then read both off one job
    full = _combine_dismax(local, cols, tie_breaker, k=len(cand) + 1)
    rows = full.collect()
    rounded_t = next(r["score"] for r in rows if r["doc_id"] == -1)
    real = sorted((r for r in rows if r["doc_id"] != -1),
                  key=lambda r: (-r["score"], r["doc_id"]))
    if not exhausted:
        n_above = sum(1 for r in real if r["score"] > rounded_t)
        if n_above < k:
            return None  # threshold proof failed -> exact fallback
    out = [(i, r["doc_id"], r["score"]) for i, r in enumerate(real[:k])]
    return spark.createDataFrame(
        out, "rank bigint, doc_id bigint, score double"
    )


def _make_phrase_matcher(phrase: list[str], last_alts: list[str] | None = None):
    """Per-doc_part phrase-occurrence counter for applyInPandas.

    Decodes each phrase term's postings + positions ONCE, then counts
    consecutive matches fully vectorized: occurrence starts are the
    positions p of phrase[0] such that p+j is a position of phrase[j] for
    every j — membership tested on packed (local_doc_index, position) int64
    keys (local index, not raw doc_id, so the packing never overflows at
    10^12-doc scale; both factors are bounded by doc_range / doc length).
    Emits (doc_id, occ, dl) for docs containing the whole phrase.

    last_alts: match_phrase_prefix support — the LAST position matches any
    of these terms instead of phrase[-1] (their position sets are disjoint
    unions: one token per position, so concatenation is exact).
    """
    POS_BITS = 33  # positions < 2^33 per doc; local doc index < 2^30

    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "doc_id": pd.Series([], dtype=np.int64),
            "occ": pd.Series([], dtype=np.int64),
            "dl": pd.Series([], dtype=np.int64),
        })
        dec: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = {}
        for row in pdf.itertuples(index=False):
            ids, tfs, dls = decode_postings(row.docs, row.tfs, row.dls)
            flat = decode_positions(row.positions or b"", tfs)
            dec[row.term] = (ids, tfs, dls, flat)
        fixed = phrase[:-1] if last_alts is not None else phrase
        alts = ([t for t in last_alts if t in dec]
                if last_alts is not None else None)
        if any(t not in dec for t in fixed) or (alts is not None and not alts):
            return empty  # a required term absent from this doc range
        present = set(fixed) | set(alts or ([phrase[-1]]
                                            if last_alts is None else []))
        all_ids = np.unique(np.concatenate([dec[t][0] for t in present]))
        keys = {}
        for t in present:
            ids, tfs, _, flat = dec[t]
            loc = np.searchsorted(all_ids, ids)
            keys[t] = (np.repeat(loc, tfs) << POS_BITS) + flat

        if not fixed:
            # pure-prefix single-position phrase: occ = total positions of
            # any alternative per doc
            id_parts = [np.repeat(dec[t][0], dec[t][1]) for t in alts]
            rep_ids = np.concatenate(id_parts)
            uniq, counts = np.unique(rep_ids, return_counts=True)
            dl_map = {}
            for t in alts:
                ids_t, _, dls_t, _ = dec[t]
                for d, l in zip(ids_t.tolist(), dls_t.tolist()):
                    dl_map.setdefault(d, l)
            return pd.DataFrame({
                "doc_id": uniq,
                "occ": counts.astype(np.int64),
                "dl": np.array([dl_map[int(d)] for d in uniq], dtype=np.int64),
            })

        ids0, tfs0, dls0, _ = dec[fixed[0]]
        k0 = keys[fixed[0]]
        mask = np.ones(k0.size, dtype=bool)
        for j, t in enumerate(fixed[1:], start=1):
            mask &= np.isin(k0 + j, keys[t])
        if alts is not None:
            last_j = len(fixed)
            last_keys = np.concatenate([keys[t] for t in alts])
            mask &= np.isin(k0 + last_j, last_keys)
        if not mask.any():
            return empty
        occ = np.zeros(ids0.size, dtype=np.int64)
        posting_idx = np.repeat(np.arange(ids0.size), tfs0)
        np.add.at(occ, posting_idx[mask], 1)
        sel = occ > 0
        return pd.DataFrame({
            "doc_id": ids0[sel],
            "occ": occ[sel],
            "dl": dls0[sel],
        })

    return match_group


def _sloppy_tf(qs: list[np.ndarray], slop: int) -> int:
    """Sloppy occurrence count of ONE doc: qs[j] = sorted shifted
    positions (p - j) of phrase term j. tf = number of term-0 shifted
    positions q0 for which SOME integer window [a, a+slop] contains q0
    and >= 1 shifted position of every term.

    Sweep: per term, feasible window starts form the interval union of
    [q - slop, q]; their m-way intersection S comes from one +-1 event
    sweep (half-open [start, end+1) coordinates); q0 participates iff
    [q0 - slop, q0] meets S — a single searchsorted test because S's
    disjoint intervals have co-sorted starts and ends."""
    m = len(qs)
    # per-term MERGED interval unions (so the sweep's coverage test is a
    # plain "== m": a term whose own intervals overlap must count once)
    s_starts, s_ends = [], []
    for q in qs:
        gaps = np.flatnonzero(np.diff(q) > slop)
        st = np.concatenate(([0], gaps + 1))
        en = np.concatenate((gaps, [q.size - 1]))
        s_starts.append(q[st] - slop)
        s_ends.append(q[en] + 1)
    starts = np.concatenate(s_starts)
    ends = np.concatenate(s_ends)
    pts = np.concatenate([starts, ends])
    deltas = np.concatenate([np.ones(starts.size, dtype=np.int64),
                             -np.ones(ends.size, dtype=np.int64)])
    order = np.argsort(pts, kind="stable")
    pts, deltas = pts[order], deltas[order]
    cov = np.cumsum(deltas)
    full = cov == m
    if not full.any():
        return 0
    # S intervals: [pts[i], pts[i+1]) wherever coverage hits m (coverage
    # ends at 0, so i+1 always exists). Equal adjacent event points give
    # zero-width spans — dropped, they contain no integer.
    sel = np.flatnonzero(full)
    s_arr = pts[sel]
    e_arr = pts[sel + 1]
    keep = e_arr > s_arr
    s_arr, e_arr = s_arr[keep], e_arr[keep]
    if not s_arr.size:
        return 0
    q0 = qs[0]
    idx = np.searchsorted(s_arr, q0, side="right") - 1
    valid = idx >= 0
    hit = np.zeros(q0.size, dtype=bool)
    hit[valid] = e_arr[idx[valid]] > (q0[valid] - slop)
    return int(hit.sum())


def _make_sloppy_phrase_matcher(phrase: list[str], slop: int,
                                last_alts: list[str] | None = None):
    """Per-doc_part SLOPPY phrase-occurrence counter for applyInPandas
    (ES match_phrase with slop > 0, the Lucene SloppyPhraseScorer
    match-set surface the r4 adapter rejected loudly).

    Match semantics (Lucene's documented acceptance): shift each term's
    positions by its phrase offset (q = p - j); the doc matches iff the
    shifted positions admit a choice, one per term, whose span
    (max - min) is <= slop. A transposed pair therefore costs 2
    ("b a"~2 matches "a b", the textbook Lucene example). tf is this
    engine's documented closed-form convention: the count of term-0
    positions that participate in at least one valid window — at slop=0
    it equals the exact matcher's adjacent-occurrence count exactly
    (pytest-pinned), and Lucene's own greedy-repositioning freq is
    left to its implementation even by the ES docs, so score parity is
    defined against THIS convention's DuckDB oracle, not against ES.

    Phrase terms must be DISTINCT (callers enforce): distinct terms can
    never claim the same token position, so any per-term position choice
    is automatically an injective assignment — repeated-term sloppy
    phrases would need bipartite matching and are rejected loudly.

    last_alts: sloppy match_phrase_prefix support (r5) — one extra LAST
    slot whose per-doc positions are the disjoint union of the
    expansions' positions (one token per position, so concatenation is
    exact and the slot can never collide with a fixed slot as long as
    the expansions are disjoint from the fixed terms — callers enforce
    THAT too). Candidates must then also contain >= 1 expansion.

    Per-part plan: postings + positions of every term decode ONCE; only
    docs containing ALL terms (the same min-df-bounded candidate set the
    exact matcher touches) run the O(P log P) window sweep (_sloppy_tf).
    Emits (doc_id, occ, dl) exactly like the exact matcher, so
    _phrase_topk's driver/distributed regimes serve both unchanged."""

    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "doc_id": pd.Series([], dtype=np.int64),
            "occ": pd.Series([], dtype=np.int64),
            "dl": pd.Series([], dtype=np.int64),
        })
        dec: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = {}
        for row in pdf.itertuples(index=False):
            ids, tfs, dls = decode_postings(row.docs, row.tfs, row.dls)
            flat = decode_positions(row.positions or b"", tfs)
            dec[row.term] = (ids, tfs, dls, flat)
        fixed = phrase[:-1] if last_alts is not None else phrase
        alts = ([t for t in last_alts if t in dec]
                if last_alts is not None else None)
        if any(t not in dec for t in fixed) or (alts is not None
                                                and not alts):
            return empty  # a required term absent from this doc range
        # candidate docs: present in EVERY fixed term's postings (and,
        # prefix form, in at least one expansion's postings)
        cand = dec[fixed[0]][0]
        for t in fixed[1:]:
            cand = cand[np.isin(cand, dec[t][0])]
        if alts is not None and cand.size:
            alt_union = np.unique(
                np.concatenate([dec[t][0] for t in alts]))
            cand = cand[np.isin(cand, alt_union)]
        if not cand.size:
            return empty
        # per-term posting offsets for slicing flat positions per doc
        lookup = {}
        for t in set(fixed) | set(alts or []):
            ids, tfs, dls, flat = dec[t]
            offs = np.concatenate(([0], np.cumsum(tfs)))
            pidx = np.searchsorted(ids, cand)
            lookup[t] = (ids, offs, pidx, flat, dls)
        occ = np.zeros(cand.size, dtype=np.int64)
        for i in range(cand.size):
            qs = []
            for j, t in enumerate(fixed):
                _, offs, pidx, flat, _ = lookup[t]
                p = pidx[i]
                pos = flat[offs[p]:offs[p + 1]]
                qs.append(np.sort(pos.astype(np.int64)) - j)
            if alts is not None:
                parts = []
                for t in alts:
                    ids, offs, pidx, flat, _ = lookup[t]
                    p = pidx[i]
                    if p < ids.size and ids[p] == cand[i]:
                        parts.append(flat[offs[p]:offs[p + 1]])
                qs.append(np.sort(np.concatenate(parts)
                                  .astype(np.int64)) - len(fixed))
            occ[i] = _sloppy_tf(qs, slop)
        sel = occ > 0
        if not sel.any():
            return empty
        _, offs0, pidx0, _, dls0 = lookup[fixed[0]]
        return pd.DataFrame({
            "doc_id": cand[sel],
            "occ": occ[sel],
            "dl": dls0[pidx0[sel]],
        })

    return match_group


def _make_scorer(idf_map: dict[str, float], *, k1: float, b: float,
                 avgdl: float, k: int, mode: str,
                 only_docs: "np.ndarray | None" = None,
                 after: "tuple | None" = None):
    """Per-doc_part scorer closure for applyInPandas. only_docs (sorted
    int64 array) restricts scoring to a candidate doc set — the decoded
    posting rows outside it are dropped before accumulation (the
    rank-safe-pruning fetch; accumulation order is unchanged, so the
    surviving docs' scores are bit-identical to the unrestricted path).
    after=(score, doc_id) is an ES search_after cursor: only docs
    STRICTLY after the cursor in (score desc, doc_id asc) order are
    emitted — exact because per-part scores ARE the final scores (doc
    ranges are disjoint; the determinism contract makes per-part float64
    sums bit-identical to any global computation)."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("term", kind="mergesort")  # fixed term order
        if mode == "wand":
            ids, scores = _wand_topk(pdf, idf_map, k1=k1, b=b, avgdl=avgdl,
                                     k=k, after=after)
        else:
            ids, scores = _taat_topk(pdf, idf_map, k1=k1, b=b, avgdl=avgdl,
                                     k=k, only_docs=only_docs, after=after)
        return pd.DataFrame({"doc_id": ids, "score": scores})

    return score_group


#: dense-accumulator guard for the batched scorer: a per-part score
#: buffer of doc_range float64 + an int32 epoch array (12 bytes/slot;
#: 2^22 slots = 48 MB per Python worker). Above the cap (an index built
#: with a huge doc_range) the sparse unique-sort path runs instead.
DENSE_RANGE_CAP = 1 << 22


def _make_multi_scorer(qterms: dict[str, list[str]], idf_map: dict[str, float],
                       *, k1: float, b: float, avgdl: float, k: int,
                       mode: str, doc_range: int | None = None):
    """Per-doc_part scorer for search_many: decode each matched term's
    postings ONCE, reuse the per-term contribution vector (idf * tf_norm
    depends only on the term, never the query) across every query that
    contains the term, then per-query top-k. Term accumulation order stays
    sorted (qterms lists are pre-sorted) — determinism contract holds.

    When doc_range is known (and <= DENSE_RANGE_CAP), accumulation uses a
    DENSE per-part buffer indexed by doc_id - part_base instead of a
    per-query np.unique sort: postings localize once per term, each query
    pays O(postings) adds + epoch-stamped touched tracking + one
    argpartition, eliminating the O(P log P) sort that dominated the
    batch200 stage (VERDICT r4 #3). Per-doc adds still happen in sorted
    term order (one add.at pass per term), so float64 sums are
    bit-identical to the sparse path and to search() — pytest-pinned."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("term", kind="mergesort")
        decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        rows_by_term: dict[str, object] = {}
        for row in pdf.itertuples(index=False):
            ids, tfs, dls = decode_postings(row.docs, row.tfs, row.dls)
            contrib = idf_map[row.term] * tf_norm(
                tfs.astype(np.float64), dls.astype(np.float64),
                k1=k1, b=b, avgdl=avgdl,
            )
            decoded[row.term] = (ids, contrib)
            rows_by_term[row.term] = row
        dense = (mode != "wand" and decoded and doc_range is not None
                 and 0 < doc_range <= DENSE_RANGE_CAP)
        if dense:
            base = int(pdf["doc_part"].iloc[0]) * doc_range
            loc = {t: (ids - base).astype(np.int64)
                   for t, (ids, _) in decoded.items()}
            acc_buf = np.zeros(doc_range)
            stamp = np.full(doc_range, -1, dtype=np.int32)
        out_q: list[np.ndarray] = []
        out_ids: list[np.ndarray] = []
        out_scores: list[np.ndarray] = []
        for qi, qid in enumerate(sorted(qterms)):
            terms = [t for t in qterms[qid] if t in decoded]
            if not terms:
                continue
            if mode == "wand":
                sub = pd.DataFrame([rows_by_term[t] for t in terms])
                ids, scores = _wand_topk(sub, idf_map, k1=k1, b=b,
                                         avgdl=avgdl, k=k)
            elif dense:
                newly = []
                for t in terms:  # sorted order: per-doc adds term-ordered
                    lt = loc[t]
                    # posting doc-ids are unique per term, so fancy-index
                    # += is exact here (and much faster than np.add.at)
                    acc_buf[lt] += decoded[t][1]
                    fresh = lt[stamp[lt] != qi]
                    stamp[fresh] = qi
                    newly.append(fresh)
                u = np.concatenate(newly)
                sc = acc_buf[u]
                acc_buf[u] = 0.0  # reset touched slots for the next query
                if u.size > k:
                    # exact rank-safe pre-cut: keep everything at or above
                    # the k-th score, let lexsort resolve doc_id ties
                    kth = np.partition(sc, sc.size - k)[sc.size - k]
                    m2 = sc >= kth
                    u, sc = u[m2], sc[m2]
                order = np.lexsort((u, -sc))[:k]
                ids, scores = u[order] + base, sc[order]
            else:
                ids = np.concatenate([decoded[t][0] for t in terms])
                scores = np.concatenate([decoded[t][1] for t in terms])
                uniq, inv = np.unique(ids, return_inverse=True)
                acc = np.zeros(uniq.size)
                np.add.at(acc, inv, scores)
                order = np.lexsort((uniq, -acc))[:k]
                ids, scores = uniq[order], acc[order]
            if ids.size:
                out_q.append(np.full(ids.size, qid, dtype=object))
                out_ids.append(ids)
                out_scores.append(scores)
        if not out_q:
            return pd.DataFrame({
                "query_id": pd.Series([], dtype=object),
                "doc_id": pd.Series([], dtype=np.int64),
                "score": pd.Series([], dtype=np.float64),
            })
        return pd.DataFrame({
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_ids),
            "score": np.concatenate(out_scores),
        })

    return score_group


def _taat_topk(pdf: pd.DataFrame, idf_map, *, k1, b, avgdl, k,
               only_docs=None, after=None):
    """Exact vectorized term-at-a-time: decode all matched postings in the
    range, accumulate idf*tf_norm per doc (term-sorted order), top-k.
    only_docs (sorted int64) drops non-candidate postings pre-accumulation.
    after=(score, doc_id) keeps only docs strictly after the cursor in
    (score desc, doc_id asc) order — the cut happens on the FINAL
    accumulated score, so it is exact, not heuristic."""
    all_ids, all_scores = [], []
    for row in pdf.itertuples(index=False):
        ids, tfs, dls = decode_postings(row.docs, row.tfs, row.dls)
        if only_docs is not None:
            keep = np.isin(ids, only_docs)
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
            if ids.size == 0:
                continue
        contrib = idf_map[row.term] * tf_norm(
            tfs.astype(np.float64), dls.astype(np.float64),
            k1=k1, b=b, avgdl=avgdl,
        )
        all_ids.append(ids)
        all_scores.append(contrib)
    if not all_ids:
        return np.empty(0, dtype=np.int64), np.empty(0)
    ids = np.concatenate(all_ids)
    scores = np.concatenate(all_scores)
    uniq, inv = np.unique(ids, return_inverse=True)
    acc = np.zeros(uniq.size)
    np.add.at(acc, inv, scores)  # element order = term-sorted: deterministic
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])
        keep = (acc < s_a) | ((acc == s_a) & (uniq > d_a))
        uniq, acc = uniq[keep], acc[keep]
        if not uniq.size:
            return np.empty(0, dtype=np.int64), np.empty(0)
    # top-k by (score desc, doc_id asc): lexsort is stable & total.
    # k=None emits every scored doc (the score_all full-relation form).
    order = np.lexsort((uniq, -acc))
    if k is not None and uniq.size > k:
        order = order[:k]
    return uniq[order], acc[order]


class _TermCursor:
    __slots__ = ("term", "idf", "ids", "tfn", "block_last", "block_ub",
                 "pos", "n")

    def __init__(self, term, idf, ids, tfn, block_last, block_ub):
        self.term = term
        self.idf = idf
        self.ids = ids
        self.tfn = tfn
        self.block_last = block_last
        self.block_ub = block_ub  # idf * block max tf_norm (float64)
        self.pos = 0
        self.n = ids.size

    def current(self):
        return self.ids[self.pos] if self.pos < self.n else None

    def seek(self, target):
        """Advance to first doc >= target (galloping via searchsorted)."""
        if self.pos < self.n:
            self.pos += int(np.searchsorted(self.ids[self.pos:], target, "left"))

    def block_max_at(self, doc):
        """Upper bound of this cursor's contribution for the block
        containing `doc` (0 if exhausted or doc beyond last block)."""
        if self.pos >= self.n:
            return 0.0
        bi = int(np.searchsorted(self.block_last, doc, "left"))
        if bi >= self.block_ub.size:
            return 0.0
        return float(self.block_ub[bi])


def _wand_topk(pdf: pd.DataFrame, idf_map, *, k1, b, avgdl, k, stats=None,
               after=None):
    """Block-max WAND (Ding & Suel, 2011 — public algorithm): doc-at-a-time
    pivoting over per-term cursors with global and per-block upper bounds.
    Rank-safe: returns exactly the taat top-k (asserted in tests).

    Regime note: WAND pays a per-doc Python loop to SKIP work; it wins when
    idf skew lets the threshold exclude most docs (selective + hot term
    mixes). On flat-score corpora (every term in every doc) the exact
    vectorized taat path is faster — which is why taat is the default mode.
    `stats` (optional dict) receives n_scored / n_skip_jumps / n_candidates
    so tests can assert pruning actually happens."""
    cursors: list[_TermCursor] = []
    for row in pdf.itertuples(index=False):
        ids, tfs, dls = decode_postings(row.docs, row.tfs, row.dls)
        idf = idf_map[row.term]
        tfn = idf * tf_norm(tfs.astype(np.float64), dls.astype(np.float64),
                            k1=k1, b=b, avgdl=avgdl)
        block_last = np.asarray(row.block_last, dtype=np.int64)
        # float32 block max was rounded up at encode; widen then scale
        block_ub = idf * np.asarray(row.block_max, dtype=np.float64)
        cursors.append(_TermCursor(row.term, idf, ids, tfn, block_last, block_ub))
    if not cursors:
        return np.empty(0, dtype=np.int64), np.empty(0)

    ub_global = {c.term: float(c.block_ub.max()) if c.block_ub.size else 0.0
                 for c in cursors}
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    if stats is not None:
        stats.setdefault("n_scored", 0)
        stats.setdefault("n_skip_jumps", 0)
        stats["n_candidates"] = int(
            np.unique(np.concatenate([c.ids for c in cursors])).size
        )

    def threshold():
        return heap[0][0] if len(heap) >= k else -np.inf

    live = [c for c in cursors if c.n]
    while True:
        live = [c for c in live if c.pos < c.n]
        if not live:
            break
        live.sort(key=lambda c: int(c.ids[c.pos]))
        theta = threshold()
        # pivot: first prefix whose global-ub sum can reach theta
        acc = 0.0
        pivot = -1
        for i, c in enumerate(live):
            acc += ub_global[c.term]
            if acc >= theta:
                pivot = i
                break
        if pivot < 0:
            break  # even all terms together cannot reach the threshold
        pivot_doc = int(live[pivot].ids[live[pivot].pos])
        if int(live[0].ids[live[0].pos]) < pivot_doc:
            # docs below pivot_doc live only in the prefix, whose global-ub
            # sum is < theta: skip the prefix forward
            for c in live[:pivot]:
                c.seek(pivot_doc)
            continue
        # sorted + live[pivot]==pivot_doc + live[0]==pivot_doc => the whole
        # prefix sits at pivot_doc; extend with any later cursors tied there
        # (their contribution belongs in the bound AND the score)
        ext_end = pivot + 1
        while (ext_end < len(live)
               and int(live[ext_end].ids[live[ext_end].pos]) == pivot_doc):
            ext_end += 1
        ext = live[:ext_end]
        # block-max refinement: tighter per-block bound at pivot_doc
        block_sum = sum(c.block_max_at(pivot_doc) for c in ext)
        if block_sum >= theta:
            if stats is not None:
                stats["n_scored"] += 1
            score = 0.0
            for c in sorted(ext, key=lambda c: c.term):  # fixed order: determinism
                score += float(c.tfn[c.pos])
                c.pos += 1
            # search_after cursor: a doc at-or-before the cursor in
            # (score desc, doc_id asc) order never enters the heap. The
            # block-max skipping stays rank-safe — it only ever skips
            # docs that cannot beat the heap bottom, and the heap holds
            # admissible docs only.
            if after is not None and not (
                    score < after[0]
                    or (score == after[0] and pivot_doc > after[1])):
                continue
            item = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
        else:
            # rank-safe skip: within [pivot_doc, min current-block end] every
            # doc's score is bounded by block_sum (< theta), PROVIDED no
            # later cursor reaches into that range — cap at its current doc.
            bmin = None
            for c in ext:
                bi = int(np.searchsorted(c.block_last, pivot_doc, "left"))
                last = int(c.block_last[bi])
                bmin = last if bmin is None else min(bmin, last)
            candidate = bmin + 1
            if ext_end < len(live):
                candidate = min(candidate, int(live[ext_end].ids[live[ext_end].pos]))
            candidate = max(candidate, pivot_doc + 1)
            if stats is not None:
                stats["n_skip_jumps"] += 1
            for c in ext:
                c.seek(candidate)

    out = sorted(heap, key=lambda t: (-t[0], -t[1]))
    ids = np.array([-d for _, d in out], dtype=np.int64)
    scores = np.array([s for s, _ in out])
    return ids, scores
