"""Query engine over the posting-segment index: BM25 top-k.

The read path the reference delegates to ES for every
es.search(size=k) (/root/reference/wapo/experiments/ranking.py:128-139):

  analyzed query terms --broadcast (tiny)-->
  segment scan pruned to the terms' buckets (directory pruning on the
  partition column) + term predicate pushdown (parquet row-group stats)
  --groupBy(doc_part).applyInPandas--> per-doc-range top-k
  (doc ranges are disjoint doc sets, so per-range scores are complete)
  --global orderBy(score desc, doc_id asc).limit(k)--> final top-k

Every per-doc_part closure decodes its part's rows in one pass
(_Part: one decode_runs over the blob columns, one
decode_positions_runs over positions) and works on per-term slices of
the flat arrays, with idf spread over the postings by np.repeat — on
the driver over Arrow slices of the resident reader's rows, above the
cap over applyInPandas's frames. Two scorer modes, asserted identical
in tests:
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
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType, _create_row)

from ..functions.codec import (decode_positions_runs, decode_runs,
                               lucene_idf, tf_norm)
from ..oracle import pure
from ..config import AnalyzerConfig
from .delete import dead_ids, tombstone_dir, tombstone_listing
from .index_build import (SEGMENT_ARROW, TERM_STATS_ARROW,
                          TERM_STATS_SCHEMA, TERM_VECTORS_SCHEMA,
                          term_bucket, write_on_driver)
from .reader import ResidentReader

TOPK_SCHEMA = "doc_id bigint, score double"
RANKED_SCHEMA = "rank bigint, doc_id bigint, score double"
MANY_SCHEMA = "query_id string, rank bigint, doc_id bigint, score double"
# the segment columns the taat scorers read
_SCORE_COLS = ("doc_part", "term", "docs", "tfs", "dls", "block_last",
               "block_max")
PHRASE_CAND_SCHEMA = "doc_id bigint, occ bigint, dl bigint"

#: The one query-placement cap (SegmentIndex._driver_ok). Every
#: per-doc_part scorer — search, search_many, score_all, the phrase
#: paths, flat bool, search_mixed, the nested bool tree's numpy
#: evaluator — and the metadata filters' doc-store read run on the
#: driver on a warm handle when the PROVEN read volume (Σdf of the terms
#: whose postings are read, Σcf of those whose positions are read,
#: n_docs when the doc store is read — all known from the dictionary
#: before any read) fits the cap: the terms' segment rows and the doc
#: store come from driver-local pyarrow reads (no Spark job, no JVM
#: call) and the SAME closure runs on the driver. Above the cap, cold,
#: or in wand mode the closure runs in its one distributed
#: applyInPandas plan. 2^19 postings
#: decode to ~24 B/posting of int64 numpy (docs+tfs+dls) ≈ 13 MB
#: transient — fixed-width and bounded. The calibration below was
#: measured when the driver regime still gathered its rows with one
#: Spark job (~85 ms of fixed cost per query that the pyarrow read
#: removed); the cap has not been retuned.
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
#: (the sf0.1 suite's whole dictionary is far below it) on the driver
#: and routes hot disjunctions to the distributed plan,
#: which scales with executors — the only shape that matters at
#: 10^12-doc scale, where every hot term exceeds any driver cap anyway.
#: WAND stays distributed at EVERY size: its per-part block loop is
#: Python-sequential and needs executor parallelism (measured 2.4-6 s
#: driver-side vs 1.15 s distributed — rejected by measurement).
#: A multi-field query (search_dismax, search_dismax_bool,
#: search_dismax_phrase, search_cross_fields) proves each field's
#: relation separately against the cap, and its one combine (_dismax)
#: runs on the driver only when every field's relation is driver-placed:
#: the driver then holds at most fields x the cap of proven volume.
#: The same cap places WRITES (index_build.write_on_driver): a build,
#: compaction or merge runs on the driver when n_docs + tokens x (1 +
#: positions + term vectors) fits — tokens bounded by the input's
#: characters for a build (its fingerprint aggregate), by stats.json's
#: total_tokens for a compaction or merge. The driver holds ~300 B per
#: token at peak (gathered text, token strings, decoded postings as
#: pandas/numpy objects; measured +28 MB peak RSS building 100k tokens
#: from 721k characters), and a token is at least one unit of volume:
#: ≲ 300 B per unit, ≲ 160 MB transient at the cap. Setting it to -1
#: forces every read AND write onto Spark.
#: The same write rule bounds the RESIDENT READER (SegmentIndex._resident):
#: a warm handle whose index could be rewritten on the driver holds its
#: dictionary, segment rows (positions included) and doc store in driver
#: memory as Arrow tables plus an 8-byte search key per term and segment
#: row, one copy per open handle until close(). Measured at load (Arrow
#: allocation + traced Python/numpy memory): 29 B per unit of volume on
#: the perfbench serve index (1.6 MB for 54.6k units), 43 B on its
#: ingest slice (0.19 MB for 4.5k units), and 150 B on the worst
#: dictionary case, every token a distinct 9-letter term without
#: positions (one dictionary row and one segment row per token): 79 MB
#: at the cap (524k units). The doc store adds its rows' width per doc —
#: 84 B bare, 373 B with four path-like meta columns — and a doc counts
#: as one unit however wide its meta columns are, as in a driver
#: compaction.
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


def _meta_filter_pred(meta_clauses: list[tuple], schema,
                      arrow: bool = False):
    """The one compiler of ES filter-context metadata clauses (term /
    terms / range / exists over doc-store columns, ANDed), with two
    outputs of the same clauses: a Catalyst Column (the default), applied
    directly to the distributed doc_store scan so it pushes down to
    parquet (row-group stats prune; `.explain` shows PushedFilters); or,
    with `arrow`, a pyarrow.compute expression for the driver's read
    (SegmentIndex._doc_ids), which prunes row groups the same way and
    makes no JVM call. `schema` is the doc store's pyarrow schema
    (SegmentIndex._store_schema). A string value compared with a numeric
    column is parsed as a number, as ES parses it, so it behaves exactly
    like the same value given as a number: a range bound "300.5" on an
    integer column is 300.5, a term "300" or "300.0" is 300. A term or
    terms value with a decimal part on an integer column, or a value
    that is not a number, raises ValueError (ES's 400). Against another
    non-string column a string is cast to the column's type. A malformed
    clause raises ValueError before either output is built."""
    for kind, col, spec in meta_clauses:
        if kind == "terms" and not isinstance(spec, (list, tuple)):
            # ES rejects it; list("py") would filter on ["p", "y"]
            raise ValueError(f"[terms] query on [{col}] needs an array "
                             f"of values, got {spec!r}")
        if kind == "range":
            bad = sorted(set(spec) - {"gte", "gt", "lte", "lt"})
            if bad or not spec:
                raise ValueError(f"unsupported range op: {bad[0]}" if bad
                                 else "empty range condition")
        elif kind not in ("term", "terms", "exists"):
            raise ValueError(f"unsupported metadata filter kind: {kind}")
    import pyarrow as pa
    import pyarrow.compute as pc

    def lit(kind, col, v):
        i = schema.get_field_index(col)
        t = schema.field(i).type if i >= 0 else pa.string()
        if not isinstance(v, str) or pa.types.is_string(t):
            return v
        if not (pa.types.is_integer(t) or pa.types.is_floating(t)):
            return pa.scalar(v).cast(t) if arrow else v
        try:
            x = float(v)
        except ValueError:
            raise ValueError(f"[{kind}] value [{v}] on numeric field "
                             f"[{col}] is not a number") from None
        if not pa.types.is_integer(t):
            return x
        try:
            return int(v)
        except ValueError:
            pass
        if x.is_integer():
            return int(x)
        if kind != "range":
            raise ValueError(f"[{kind}] value [{v}] on integer field "
                             f"[{col}] has a decimal part")
        return x

    conds = []
    for kind, col, spec in meta_clauses:
        c = pc.field(col) if arrow else F.col(col)
        if kind == "term":
            # ES accepts both {"term": {f: v}} and {"term": {f:
            # {"value": v}}} — unwrap the long form
            v = spec.get("value") if isinstance(spec, dict) else spec
            conds.append(c == lit(kind, col, v))
        elif kind == "terms":
            conds.append(c.isin([lit(kind, col, v) for v in spec]))
        elif kind == "exists":
            conds.append(c.is_valid() if arrow else c.isNotNull())
        else:
            ops = {"gte": c.__ge__, "gt": c.__gt__,
                   "lte": c.__le__, "lt": c.__lt__}
            conds += [ops[op](lit(kind, col, v)) for op, v in spec.items()]
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _field_value_factor(field: str, factor: float, modifier: str,
                        missing: float):
    """ES field_value_factor as a Catalyst column: modifier(factor *
    coalesce(field, missing)), modifier in {none, log1p, sqrt} — ES's
    log1p is the COMMON logarithm, log10(1 + x)."""
    v = F.lit(float(factor)) * F.coalesce(F.col(field).cast("double"),
                                          F.lit(float(missing)))
    if modifier == "log1p":
        return F.log10(F.lit(1.0) + v)
    return F.sqrt(v) if modifier == "sqrt" else v


def _pylist(col) -> list:
    """A column (a pandas Series or an Arrow array) as a Python list."""
    return col.to_pylist() if hasattr(col, "to_pylist") else col.tolist()


class _Part:
    """One doc_part's segment rows (applyInPandas's pandas frame, or a
    slice of the driver's Arrow table) decoded in one pass, rows in term
    order: decode_runs over the blob columns and, with `positions`,
    decode_positions_runs. Term terms[r] holds postings [offs[r],
    offs[r + 1]) of the flat ids / tfs / dls. Closures work on per-term
    slices, so every float64 op and accumulation order is a per-row
    decode's."""

    def __init__(self, rows, positions: bool = False):
        terms = _pylist(rows["term"])
        order = sorted(range(len(terms)), key=terms.__getitem__)
        if order != list(range(len(terms))):
            rows = rows.take(order)
            terms = [terms[i] for i in order]
        self.rows, self.terms = rows, terms
        self.at = {t: r for r, t in enumerate(terms)}
        self.ids, self.tfs, self.dls, self.counts = decode_runs(
            rows["docs"], rows["tfs"], rows["dls"])
        self.offs = np.concatenate(([0], np.cumsum(self.counts)))
        if positions:
            self.pos = decode_positions_runs(rows["positions"], self.tfs)
            self.poffs = np.concatenate(([0], np.cumsum(self.tfs)))

    def span(self, t: str) -> slice:
        """Term t's postings."""
        r = self.at[t]
        return slice(self.offs[r], self.offs[r + 1])

    def rep(self, per_term) -> np.ndarray:
        """One value per term (term order) spread over its postings."""
        return np.repeat(per_term, self.counts)

    def has(self, terms) -> np.ndarray:
        """Whether each posting's term is in `terms`."""
        return self.rep(np.array([t in terms for t in self.terms], bool))

    def idf(self, idf_map: dict) -> np.ndarray:
        """Each posting's term idf."""
        return self.rep([idf_map[t] for t in self.terms])

    def term_col(self) -> np.ndarray:
        """Each posting's term, as an object column."""
        return self.rep(np.array(self.terms, dtype=object))

    def positions(self, t: str) -> np.ndarray:
        """Term t's positions, posting after posting."""
        s = self.span(t)
        return self.pos[self.poffs[s.start]:self.poffs[s.stop]]


def _concat(outs: list):
    """Per-part results (dicts of numpy columns) as one; None for none."""
    if len(outs) <= 1:
        return outs[0] if outs else None
    return {c: np.concatenate([o[c] for o in outs]) for c in outs[0]}


def _frames(fn):
    """A part closure (numpy columns out) as applyInPandas's function."""
    return lambda pdf: pd.DataFrame(fn(pdf))


def _no_rows(schema) -> dict:
    """Zero rows of a flat DDL schema, as typed numpy columns."""
    return {f.name: np.empty(0, _DDL_TYPES[f.dataType.simpleString()][1])
            for f in _struct(schema).fields}


def _make_bool_taat(must_clauses: list[list[str]], must_not: list[str],
                    should: list[str], msm: int, scoring_terms: list[str],
                    idf_map: dict[str, float], *, k1: float, b: float,
                    avgdl: float, k: int | None, zero_fill: bool = False):
    """Combined constraint-intersection + candidate-restricted scoring for
    flat bool, one closure for both placements (on the driver under
    SEARCH_DRIVER_CAP, else one applyInPandas pass): per doc_part it (a)
    decodes every scanned term's postings in one pass, (b) intersects
    the bool constraints into a candidate doc set, (c)
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

    The closure's optional second argument `allowed` holds the sorted
    doc_ids a metadata filter (ES filter context) admits in this
    doc_part — the driver's _doc_ids, or the right frame of
    `seg.cogroup(allowed)` above the cap; candidates intersect it (or
    START from it when there are no term constraint clauses — an ES
    bool whose only constraints are filters matches every admitted
    doc).

    `zero_fill=True` (set when the TRUE must set is empty but filter
    clauses exist) emits candidates matching no scoring term with score
    0.0 — ES filter-context hits score 0 and with a filter present
    minimum_should_match defaults to 0, so filter-admitted docs that
    match no should term are still hits. BM25 partials are strictly
    positive (lucene idf > 0, tf_norm > 0), so zero-score docs rank
    below every scored doc and tie among themselves on doc_id asc:
    emitting only the k smallest zero-score doc_ids per part is exact."""
    scoring = set(scoring_terms)

    def score(rows, allowed=None) -> dict:
        part = _Part(rows)
        ids = part.ids

        def union(terms):
            arrs = [ids[part.span(t)] for t in terms if t in part.at]
            return (None if not arrs else arrs[0] if len(arrs) == 1
                    else np.unique(np.concatenate(arrs)))

        empty = _no_rows(TOPK_SCHEMA)
        cur = None
        for clause in must_clauses:
            cd = union(clause)
            if cd is None:
                return empty  # no clause term in this range -> no matches
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
            cur = union(should)
            if cur is None:
                return empty
        if msm > 0:
            arrs = [ids[part.span(t)] for t in should if t in part.at]
            if len(arrs) < msm:
                return empty
            uniq, cnt = np.unique(np.concatenate(arrs), return_counts=True)
            cur = cur[np.isin(cur, uniq[cnt >= msm])]
            if cur.size == 0:
                return empty
        for t in must_not:
            if t in part.at and cur.size:
                cur = cur[~np.isin(cur, ids[part.span(t)])]
        if cur.size == 0:
            return empty
        # the scoring terms' candidate postings, in term order
        keep = part.has(scoring) & np.isin(ids, cur)
        if keep.any():
            contrib = part.rep([idf_map.get(t, 0.0) for t in part.terms])[
                keep] * tf_norm(part.tfs[keep].astype(np.float64),
                                part.dls[keep].astype(np.float64),
                                k1=k1, b=b, avgdl=avgdl)
            uniq, inv = np.unique(ids[keep], return_inverse=True)
            acc = np.zeros(uniq.size)
            np.add.at(acc, inv, contrib)
        elif zero_fill:
            uniq, acc = np.empty(0, dtype=np.int64), np.empty(0)
        else:
            return empty
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
        return {"doc_id": uniq, "score": acc}

    return score


def _make_groups_taat(groups: list[list[list[str]]],
                      idf_map: dict[str, float], *, k1: float, b: float,
                      avgdl: float, k: int | None):
    """Per-doc_part scorer for an OR of AND-groups (ES mixed AND/OR
    query_string, AND binds tighter): for each group, intersect its
    clauses into a candidate set, accumulate BM25 over the group's
    tokens restricted to those candidates, then sum the group partials
    per doc — Lucene BooleanQuery-of-conjunctions semantics, where a
    token occurring in several matched groups contributes once PER
    GROUP. Postings decode in one pass per part; accumulation order is
    (group order, sorted tokens within group) — deterministic. The same
    margin-safe per-part top-k cut as _make_bool_taat bounds the
    emitted relation (proof there)."""

    def score_group(rows) -> dict:
        part = _Part(rows)
        ids = part.ids
        tfn = part.idf(idf_map) * tf_norm(
            part.tfs.astype(np.float64), part.dls.astype(np.float64),
            k1=k1, b=b, avgdl=avgdl)
        all_ids, all_scores = [], []
        for clauses in groups:
            cur = None
            for clause in clauses:
                arrs = [ids[part.span(t)] for t in clause if t in part.at]
                if not arrs:
                    cur = None  # a required clause absent from this range
                    break
                cd = (arrs[0] if len(arrs) == 1
                      else np.unique(np.concatenate(arrs)))
                cur = cd if cur is None else cur[np.isin(cur, cd)]
                if cur.size == 0:
                    break
            if cur is None or cur.size == 0:
                continue
            # the group's tokens' candidate postings, in term order
            toks = {t for c in clauses for t in c}
            keep = part.has(toks) & np.isin(ids, cur)
            all_ids.append(ids[keep])
            all_scores.append(tfn[keep])
        if not all_ids:
            return _no_rows(TOPK_SCHEMA)
        ids = np.concatenate(all_ids)
        uniq, inv = np.unique(ids, return_inverse=True)
        acc = np.zeros(uniq.size)
        np.add.at(acc, inv, np.concatenate(all_scores))
        if k is not None and uniq.size > k:
            kth = np.partition(acc, uniq.size - k)[uniq.size - k]
            keep = acc >= kth - 1e-6
            uniq, acc = uniq[keep], acc[keep]
        return {"doc_id": uniq, "score": acc}

    return score_group


def _make_tree_eval(root: dict):
    """The nested bool tree's one evaluator (SegmentIndex._bool_tree
    builds `root`, a normalized node): a numpy function of the tree's
    clause rows (doc_id, cid, score columns) to the (doc_id, score)
    columns of the docs the tree matches. The driver calls it once over
    all rows; above the cap it runs per doc_part in applyInPandas — doc
    ranges are disjoint, so per-part results are complete.

    np.bincount gives each doc's match flag and score sum per clause; a
    clause's rows sum in (doc_id, cid, score) order, whatever order they
    arrive in. Then the tree recurses with Lucene semantics: a node
    matches iff every must and filter child matches, no must_not child
    does and at least ES's effective msm of its should children do (an
    unsatisfiable msm matches nothing); its score is the sum, in child
    order, of its matching must+should children's scores times its
    boost, a weighted leaf scaling its clause sum."""

    def evaluate(rows) -> dict:
        doc = np.asarray(rows["doc_id"], np.int64)
        cid = np.asarray(rows["cid"], np.int64)
        sc = np.asarray(rows["score"], np.float64)
        o = np.lexsort((sc, cid, doc))
        ids, inv = np.unique(doc[o], return_inverse=True)
        cid, sc, n = cid[o], sc[o], ids.size
        sums: dict = {}
        flags: dict = {}

        def leaf(c):
            if c not in sums:
                sel = cid == c
                sums[c] = (np.bincount(inv[sel], minlength=n) > 0,
                           np.bincount(inv[sel], weights=sc[sel],
                                       minlength=n))
            return sums[c]

        def matched(x):
            if isinstance(x, tuple):
                return leaf(x[0])[0]
            if id(x) not in flags:
                sh = [matched(c) for c in x["should"]]
                m = np.full(n, x["msm"] <= len(sh))
                for c in x["must"] + x["filter"]:
                    m &= matched(c)
                for c in x["must_not"]:
                    m &= ~matched(c)
                # ES default: with no must/filter, >= 1 should must match
                eff = x["msm"] or (0 if x["must"] or x["filter"] else 1)
                if eff and sh:
                    m &= np.sum(sh, axis=0) >= eff
                flags[id(x)] = m
            return flags[id(x)]

        def score(x):
            if isinstance(x, tuple):
                s = leaf(x[0])[1]
                return s * x[1] if len(x) == 2 else s
            total = np.zeros(n)
            for c in x["must"] + x["should"]:
                total = total + np.where(matched(c), score(c), 0.0)
            return total * x["boost"] if x["boost"] != 1.0 else total

        m = matched(root)
        return {"doc_id": ids[m], "score": score(root)[m]}

    return evaluate


#: Spark SQL type -> (its type, the dtype a JVM frame's toPandas() gives,
#: its Arrow type)
_DDL_TYPES = {"bigint": (LongType(), np.int64, pa.int64()),
              "double": (DoubleType(), np.float64, pa.float64()),
              "string": (StringType(), object, pa.string())}


def _struct(schema) -> StructType:
    """A flat DDL string ("name type, ...") as a StructType, parsed in
    Python — pyspark's own DDL parser is a JVM call."""
    if isinstance(schema, StructType):
        return schema
    return StructType([StructField(n, _DDL_TYPES[t][0])
                       for n, t in (f.split() for f in schema.split(","))])


class LocalFrame(ClassicDataFrame):
    """A driver regime's result: its rows stay typed numpy columns on the
    driver (`cols`: a dict of arrays or a pandas frame, one entry per
    schema column), and the DataFrame API reads them without a JVM call.

    collect(), toPandas(), count(), columns and schema answer from them
    with today's frame's types: collect() gives Rows of Python
    int/float/str with a NaN read as None (the null an Arrow conversion
    makes of it), toPandas() gives a new int64/float64/object frame,
    empty frames included. Any other DataFrame method composes the frame
    (filter/select/join/unionByName/F.broadcast/persist…): it reads
    `_jdf`, which builds the JVM half once, from an Arrow table (a local
    relation, so its collect() runs no Spark job either)."""

    def __new__(cls, *args, **kwargs):
        # pyspark's DataFrame.__new__ takes (jdf, session) and calls
        # __init__ itself
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, cols, schema=RANKED_SCHEMA):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._local_schema = _struct(schema)
        self._cols = {
            f.name: np.asarray(cols[f.name],
                               _DDL_TYPES[f.dataType.simpleString()][1])
            for f in self._local_schema.fields}
        self._jdf_lock = threading.Lock()
        self._built = None

    @property
    def _jdf(self):
        with self._jdf_lock:
            if self._built is None:
                table = pa.Table.from_arrays(
                    [pa.array(a, _DDL_TYPES[f.dataType.simpleString()][2],
                              from_pandas=True)
                     for a, f in zip(self._cols.values(),
                                     self._local_schema.fields)],
                    names=list(self._cols))
                self._built = self._session.createDataFrame(
                    table, self._local_schema)._jdf
            return self._built

    @property
    def schema(self) -> StructType:
        return self._local_schema

    def count(self) -> int:
        return len(next(iter(self._cols.values())))

    def toPandas(self) -> pd.DataFrame:
        return pd.DataFrame(self._cols, copy=True)

    def collect(self) -> list[Row]:
        cols = []
        for arr in self._cols.values():
            vals = arr.astype(object)
            if arr.dtype.kind == "f":
                vals[np.isnan(arr)] = None
            cols.append(vals)
        names = list(self._cols)
        return [_create_row(names, r) for r in zip(*cols)]


def _rank_topk(scored: DataFrame, k: int, *cols: str) -> DataFrame:
    """The distributed plans' one top-k tail (SegmentIndex._cut_topk is
    the driver's): (doc_id, score, *cols) rows ordered by score desc,
    doc_id asc, the first k numbered 0.. as `rank` — a
    TakeOrderedAndProject under a single-partition window."""
    order = (F.desc("score"), F.asc("doc_id"))
    return scored.orderBy(*order).limit(k).select(
        (F.row_number().over(Window.orderBy(*order)) - 1)
        .cast("bigint").alias("rank"), "doc_id", "score", *cols)


class SegmentIndex:
    """Handle over an index directory written by plans.index_build."""

    def __init__(self, spark: SparkSession, index_dir: str, cache: bool = True):
        """cache=True pins the segment and term-stats tables in executor
        memory after first touch — the "warm engine" of the BASELINE p95
        metric — and, when the index is small enough to be rewritten on
        the driver (index_build.write_on_driver over stats.json's n_docs
        and total_tokens), serves every driver read from one resident
        reader (plans.reader.ResidentReader), loaded by warm() or the
        first read. cache=False, or an index over that cap, scans parquet
        per query (directory pruning on bucket + term pushdown keep that
        cheap too)."""
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
            TERM_STATS_SCHEMA,
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
        # the resident reader, published by one assignment once loaded
        self._reader = None
        self._reader_lock = threading.Lock()
        self._store_schema_memo = None
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
        stats, the lazy positional sidecar, the resident reader).
        Long-lived sessions that open many indexes (e.g. per-field DisMax
        over rotating indexes) call this when an index is retired; the
        handle stays usable — subsequent queries re-read parquet
        uncached."""
        with self._reader_lock:
            cached, self._cache, self._reader = self._cache, False, None
        if cached:
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
        """Global df per query term (0 for a term not in the index).

        On a resident handle the terms resolve against the reader's
        sorted dictionary arrays with np.searchsorted — the Lucene
        in-memory terms index, no file opened. Otherwise a DRIVER-LOCAL
        pyarrow read of the term_stats parquet, pruned to the terms'
        bucket partitions with the term predicate pushed to row groups
        (files are term-sorted), memoized on the handle with each term's
        cf (the driver placement's position volume), so repeat queries
        skip the read. That read falls back to a pruned Spark scan if
        pyarrow/local-FS access is unavailable (e.g. a remote
        object-store index).
        """
        return {t: s[0] for t, s in self._term_stats(terms).items()}

    def _term_stats(self, terms) -> dict[str, tuple[int, int]]:
        """(df, cf) per term — term_dfs's lookup."""
        reader = self._resident()
        if reader is not None:
            return reader.term_stats(terms)
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            cols = ["term", "df", "cf"]
            try:
                t = self._read_buckets("term_stats", missing, cols)
                rows = zip(*(t.column(c).to_pylist() for c in cols))
            except Exception:
                rows = (self._tstats.filter(F.col("term").isin(missing))
                        .select(*cols).collect())
            got = {t: (int(d), int(c)) for t, d, c in rows}
            for t in missing:
                self._term_cache[t] = got.get(t, (0, 0))
        return {t: self._term_cache[t] for t in terms}

    def _driver_ok(self, terms=(), pos_terms=(), doc_store=False) -> bool:
        """The one query-placement rule: a warm handle whose
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

    def _per_part_local(self, fn, terms: list[str], cols: list[str],
                        allowed=None) -> dict | None:
        """The driver form of `_by_part(seg).applyInPandas(fn, ...)`: the
        SAME per-doc_part closure over zero-copy slices of the terms'
        segment rows (_read_buckets, in (doc_part, term) order), cut at
        the numpy boundaries of doc_part. With `allowed` (sorted doc ids
        a metadata filter admits) it is the driver form of the cogroup
        with the admitted (doc_part, doc_id) stream: fn(segment rows,
        admitted ids) runs for every part either side holds. The parts'
        numpy columns, concatenated; None when no part was read."""
        rows = self._read_buckets("segments", terms, cols)
        part = rows.column("doc_part").to_numpy()
        keys = np.unique(part)
        if allowed is not None:
            apart = allowed // int(self.stats["doc_range"])
            keys = np.union1d(keys, apart)
        parts = [rows.slice(a, b - a) for a, b in zip(
            *(np.searchsorted(part, keys, side).tolist()
              for side in ("left", "right")))]
        if allowed is None:
            return _concat([fn(p) for p in parts])
        lo, hi = (np.searchsorted(apart, keys, side)
                  for side in ("left", "right"))
        return _concat([fn(p, allowed[a:b])
                        for p, a, b in zip(parts, lo, hi)])

    def _per_part(self, fn, terms: list[str], cols: list[str], schema: str,
                  local: bool, positions: bool = False):
        """One per-doc_part closure, two placements: on the driver
        (`local`, decided by _driver_ok) over _read_buckets — numpy
        columns, None when no row was read — else applyInPandas over the
        pruned distributed scan (_scan), a DataFrame of `schema`. The
        same closure over the same rows gives the same columns."""
        if local:
            return self._per_part_local(fn, terms, cols)
        return self._by_part(self._scan(terms, cols, positions)
                             ).applyInPandas(_frames(fn), schema)

    def _scan(self, terms, cols, positions: bool = False) -> DataFrame:
        """The pruned segment scan the distributed plans read: only the
        terms' bucket=<b> directories (partition pruning), the term
        predicate pushed to parquet row groups (files are term-sorted),
        projected to `cols`; positions=True reads the positional
        relation."""
        n_buckets = int(self.stats["n_buckets"])
        src = self._pos_segments() if positions else self._segments
        return (src.filter(F.col("bucket").isin(
                    sorted({term_bucket(t, n_buckets) for t in terms})))
                .filter(F.col("term").isin(list(terms)))
                .select(*cols))

    def _read_buckets(self, table: str, terms: list[str],
                      columns: list[str]) -> pa.Table:
        """The rows of `table` (term_stats or segments) whose term is in
        `terms`, read on the driver with no Spark job, as one Arrow
        table (segment rows in (doc_part, term) order). A resident
        handle's segment rows come from memory: each term's row range of
        the reader's (term, doc_part)-sorted table, taken once. Otherwise
        a pyarrow read opens only the terms' bucket=<b> directories and
        pushes the term predicate to row groups (files are term-sorted);
        repeat reads are served from the OS page cache."""
        reader = self._resident() if table == "segments" else None
        if reader is not None:
            return reader.segment_rows(terms, columns)
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
            schema = SEGMENT_ARROW if table == "segments" else TERM_STATS_ARROW
            return pa.schema([schema.field(c) for c in columns]).empty_table()
        rows = pa.concat_tables(parts)
        return (rows.sort_by([("doc_part", "ascending"),
                              ("term", "ascending")])
                if table == "segments" else rows)

    def warm(self, positions: bool = False) -> "SegmentIndex":
        """Materialize the cached segment + term-stats tables (one pass) so
        first queries don't pay lazy cache population — the 'warm engine'
        precondition of the p95 metric (BASELINE.md) — and load the
        resident reader when the index qualifies (_resident), so no
        request opens a parquet file. positions=True also warms the
        positional sidecar cache (phrase-serving deployments); the
        default leaves it lazy so pure-disjunction sessions never touch
        position blobs in executor memory."""
        self._segments.count()
        self._tstats.count()
        if positions and self.stats.get("with_positions"):
            self._pos_segments().count()
        self._resident()
        return self

    def _resident(self) -> "ResidentReader | None":
        """The handle's resident reader, or None. A handle holds its
        index in memory when it is warm (cache=True, not closed) and the
        index is small enough to be rewritten on the driver —
        index_build.write_on_driver over stats.json's n_docs,
        total_tokens, with_positions and with_term_vectors, i.e.
        SEARCH_DRIVER_CAP, checked on every call, so a cap lowered later
        (-1 forces every read onto Spark) bypasses a loaded reader. The
        reader is built completely under a lock and published by one
        assignment, so concurrent first readers load it once and never
        see half of it."""
        st = self.stats
        if not (self._cache and write_on_driver(
                int(st["n_docs"]), int(st["total_tokens"]),
                st.get("with_positions", False),
                st.get("with_term_vectors", False))):
            return None
        reader = self._reader
        if reader is None:
            with self._reader_lock:
                if self._reader is None and self._cache:
                    self._reader = ResidentReader(self.index_dir)
                reader = self._reader
        return reader

    def doc_store(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "doc_store"))

    def get_docs(self, doc_ids: list[int]) -> DataFrame:
        """Point lookups by id (the reference's es.get, SURVEY S6):
        an isin filter over the doc store — parquet row-group stats prune.
        Tombstoned ids return no row (the ES 404 on a deleted id)."""
        out = self.doc_store().filter(F.col("doc_id").isin(list(doc_ids)))
        return self._exclude_dead(out)

    # -- deletes (plans.delete tombstone sidecar) ---------------------------
    def _tombstones(self) -> tuple:
        """(T, ids, dead_df) for the index's tombstone sidecar, memoized
        on the sidecar's file listing (a new delete invalidates it).

        T = distinct tombstone count. ids = sorted int64 numpy of the
        dead ids when the sidecar fits the driver gather cap (the normal
        regime between compactions, read by plans.delete.dead_ids), else
        None with dead_df a distributed distinct relation (the
        huge-backlog regime)."""
        sig = tombstone_listing(self.index_dir)
        memo_sig, tomb = self._tomb_memo
        if sig == memo_sig:
            return tomb
        ids = dead_ids(self.index_dir, sig)
        if not sig:
            tomb = (0, None, None)
        elif ids is not None:
            tomb = (int(ids.size), ids, None)
        else:
            dead_df = (self.spark.read.parquet(tombstone_dir(self.index_dir))
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
        over-fetched rows are read as numpy columns (a LocalFrame's own,
        with no JVM call), the dead ones dropped with np.isin against
        the sorted id array, the rest kept in (query_id, rank) order and
        renumbered from 0 within each query_id, in a LocalFrame — a
        driver regime result stays job-free. Otherwise a Spark window
        re-ranks the excluded relation."""
        T, ids, _ = self._tombstones()
        if not T:
            return run(k)
        out = run(k + T)
        cols = out.columns
        keys = ["query_id"] if "query_id" in cols else []
        if ids is not None and k + T <= DELETED_ISIN_CAP:
            got = (out._cols if isinstance(out, LocalFrame) else
                   {c: v.to_numpy() for c, v in out.toPandas().items()})
            live = ~np.isin(np.asarray(got["doc_id"], np.int64), ids)
            got = {c: v[live] for c, v in got.items()}
            q = (np.unique(got["query_id"], return_inverse=True)[1] if keys
                 else np.zeros(int(live.sum()), np.int64))
            order = np.lexsort((np.asarray(got["rank"], np.int64), q))
            q = q[order]
            first = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
            rank = np.arange(q.size) - np.repeat(
                first, np.diff(np.r_[first, q.size]))
            top = order[rank < k]
            return LocalFrame(self.spark, {**{c: v[top] for c, v in
                                              got.items()},
                                           "rank": rank[rank < k]},
                              out.schema)
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
        driver, returning a LocalFrame — no Spark job and no JVM call
        (with_meta's doc-store join and other composition aside);
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
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t, 0) > 0]
        if not terms:
            return self._empty()

        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in terms}
        scorer = _make_scorer(idf_map, k1=k1, b=b, avgdl=avgdl, k=k,
                              mode=mode, after=after)
        # bound proven from the dictionary before any read; the driver
        # placement's per-part outputs and (raw score desc, doc_id asc)
        # cut are bit-identical to the distributed plan (pytest-pinned)
        local = mode == "taat" and self._driver_ok(terms)
        out = self._cut_topk(self._per_part(
            scorer, terms, list(_SCORE_COLS), TOPK_SCHEMA, local), k)
        return self._with_meta(out) if with_meta else out

    def _with_meta(self, out: DataFrame) -> DataFrame:
        """Join a ranked result to the doc store (the hits' `_source`)."""
        return out.join(self.doc_store(), "doc_id", "left").orderBy("rank")

    def _empty(self, schema: str = RANKED_SCHEMA) -> DataFrame:
        """An empty result (flat DDL `schema`): a LocalFrame over typed
        zero-row columns — no Spark job and no JVM call, except
        composition."""
        return LocalFrame(self.spark, _no_rows(schema), schema)

    def _cut_topk(self, cand, k: int) -> DataFrame:
        """The one top-k cut of both placements: (doc_id, score) rows
        ordered by score desc, doc_id asc, the first k numbered 0.. as
        `rank`. Driver columns (the driver placement's numpy columns, or
        a pandas frame) are ranked by one np.lexsort((doc_id, -score)) —
        a NaN score sorts last — and cut into a LocalFrame, with no
        Spark job and no JVM call; a DataFrame (a distributed plan) takes
        _rank_topk; None (no row read) is an empty result."""
        if cand is None:
            return self._empty()
        if isinstance(cand, DataFrame):
            return _rank_topk(cand, k)
        doc = np.asarray(cand["doc_id"], np.int64)
        score = np.asarray(cand["score"], np.float64)
        top = np.lexsort((doc, -score))[:k]
        return LocalFrame(self.spark, {
            "rank": np.arange(top.size, dtype=np.int64),
            "doc_id": doc[top], "score": score[top]})

    def _round_cut(self, cand, k: int) -> DataFrame:
        """_cut_topk over scores rounded 6 dp HALF_UP: _round_half_up on
        the driver (driver columns or a LocalFrame's), Catalyst's
        F.round — the same values — in a distributed plan."""
        from ..operators.similarity import _round_half_up

        if isinstance(cand, LocalFrame):
            cand = cand._cols
        if isinstance(cand, DataFrame):
            cand = cand.select("doc_id", F.round("score", 6).alias("score"))
        elif cand is not None:
            cand = {"doc_id": cand["doc_id"], "score": _round_half_up(
                np.asarray(cand["score"], np.float64), 6)}
        return self._cut_topk(cand, k)

    def expand_prefix(self, prefix: str, max_expansions: int = 50) -> list[str]:
        """Terms in the dictionary starting with `prefix`, ordered by
        descending df then term (ES prefix-query expansion order), capped
        at max_expansions (the ES default 50). A resident handle reads
        its in-memory dictionary (no Spark job); otherwise a pruned scan
        of the tiny term_stats table — startsWith pushes to parquet as a
        range filter on the sorted term column."""
        reader = self._resident()
        if reader is not None:
            return reader.prefix_terms(prefix, max_expansions)
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
            return self._empty()
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
            return self._empty()
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
            return self._empty()
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
            return self._empty()
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
        the whole phrase; those candidates are scored and the top-k is
        cut, never touching the corpus. Placement (_phrase_cands): on a
        warm handle whose Σdf + Σcf of the phrase terms fits
        SEARCH_DRIVER_CAP, the positional rows are read with pyarrow and
        the matcher, the numpy scoring and the pandas top-k cut all run
        on the driver, returning a LocalFrame — no Spark job and no JVM
        call, except composition. Above it the matcher runs distributed
        (pruned positional-segment scan -> applyInPandas) and Catalyst
        scores and ranks the candidates (_phrase_scores, _rank_topk).

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
        out = self._phrase_topk(plan, k=k)
        return self._with_meta(out) if with_meta else out

    def _phrase_plan(self, terms: list, slop: int = 0,
                     last_alts: list | None = None):
        """(scan_terms, matcher) of a phrase — or, with last_alts (the
        expanded alternatives of a trailing PREFIX, the
        match_phrase_prefix shape), a phrase-prefix — or None when it
        can match nothing (no terms / an absent required term / zero
        expansions). Only the dictionary is read."""
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
        return sorted(set(fixed) | set(alts or ())), matcher

    def _phrase_cands(self, scan_terms: list[str], matcher):
        """(doc_id, occ, dl) candidates of a phrase plan: numpy columns
        when the driver placement reads the positional rows (_driver_ok
        on Σdf + Σcf of the scan terms — no Spark job), else the
        distributed per-part matcher plan."""
        cols = ["doc_part", "term", "docs", "tfs", "dls", "positions"]
        cand = self._per_part(matcher, scan_terms, cols, PHRASE_CAND_SCHEMA,
                              self._driver_ok(pos_terms=scan_terms),
                              positions=True)
        return _no_rows(PHRASE_CAND_SCHEMA) if cand is None else cand

    def _phrase_topk(self, plan, *, k: int) -> DataFrame:
        """Score + top-k a phrase plan (_phrase_plan): _phrase_scores in
        its placement, then _round_cut — on the driver numpy scores,
        _round_half_up and a LocalFrame cut (no Spark job and no JVM
        call); above the cap Catalyst scores, rounds and ranks. Both
        placements give bit-identical rows (pytest-pinned)."""
        return self._round_cut(self._phrase_scores(plan, frame=False), k)

    def _phrase_scores(self, plan, frame: bool = True):
        """COMPLETE (doc_id, score double) relation of a phrase plan
        (_phrase_plan) — the phrase analog of score_all, consumed by
        _phrase_topk, the bool tree's phrase leaves (ES
        match_phrase — and, with last_alts, match_phrase_prefix — inside
        bool bodies) and the phrase DisMax. Scoring is the engine's
        phrase convention (tf = occurrence count — sloppy
        participating-start count when slop > 0 — idf over the PHRASE
        df), so a bool{must:[phrase]} body scores identically to
        search_phrase (pytest-pinned).

        Placed like _phrase_cands. On the driver the candidates score in
        numpy with no Spark job — None when no doc contains the phrase,
        else a LocalFrame, or with frame=False its numpy columns.
        Above the cap the relation stays distributed and the phrase df
        comes from an in-plan count aggregation cross-joined back (the
        matcher subtree may evaluate twice — accepted for the rare
        hot-phrase shape instead of leaking a persist into the
        consumer's plan)."""
        scan_terms, matcher = plan
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        cand = self._phrase_cands(scan_terms, matcher)
        if isinstance(cand, DataFrame):
            dfp_rel = cand.agg(
                F.count(F.lit(1)).cast("double").alias("_dfp"))
            return cand.crossJoin(F.broadcast(dfp_rel)).select(
                "doc_id",
                (F.log1p((F.lit(n_docs) - F.col("_dfp") + 0.5)
                         / (F.col("_dfp") + 0.5))
                 * (F.col("occ") * (k1 + 1.0))
                 / (F.col("occ")
                    + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
                 ).alias("score"))
        dfp = float(len(cand["doc_id"]))
        if dfp == 0:
            return None
        idf = float(np.log1p((n_docs - dfp + 0.5) / (dfp + 0.5)))
        occ = cand["occ"].astype(np.float64)
        sc = (idf * (occ * (k1 + 1.0))
              / (occ + k1 * (1.0 - b + b * cand["dl"].astype(np.float64)
                             / avgdl)))
        out = {"doc_id": cand["doc_id"], "score": sc}
        return LocalFrame(self.spark, out, TOPK_SCHEMA) if frame else out

    def score_all(self, query) -> DataFrame:
        """Complete (doc_id, score double) relation for an OR-disjunction —
        every matching doc, no top-k cut. The full-score form multi-field
        DisMax, hybrid knn and LTR feature pipelines consume. Same pruned
        segment scan as search(); exact taat accumulation (per-doc ranges
        are disjoint, so per-part scores are complete). Under the driver
        rule (`_driver_ok`, as in search) the SAME per-part scorer runs
        over a pyarrow read of the terms' segment rows and the scores
        come back in a LocalFrame — no Spark job and no JVM call, except
        composition; otherwise the distributed
        scan→shuffle→applyInPandas plan runs. Both regimes are
        row/score-identical."""
        terms, scorer = self._full_scorer(query)
        if not terms:
            return self._empty(TOPK_SCHEMA)
        cand = self._per_part(scorer, terms, list(_SCORE_COLS), TOPK_SCHEMA,
                              self._driver_ok(terms))
        if cand is None:
            return self._empty(TOPK_SCHEMA)
        if isinstance(cand, DataFrame):
            return cand
        return LocalFrame(self.spark, cand, TOPK_SCHEMA)

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
            return pd.DataFrame(_no_rows(TOPK_SCHEMA))
        n_docs = float(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        doc_range = int(self.stats["doc_range"])
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in terms}
        only = np.unique(np.asarray(doc_ids, dtype=np.int64))
        parts = sorted({int(d) // doc_range for d in only})
        seg = self._scan(terms, _SCORE_COLS)
        # an isin literal over millions of parts would bloat the plan;
        # above the cap the term filter alone prunes and the scorer's
        # candidate mask does the rest
        if len(parts) <= 4096:
            seg = seg.filter(F.col("doc_part").isin(parts))
        scorer = _make_scorer(idf_map, k1=k1, b=b, avgdl=avgdl, k=None,
                              mode="taat", only_docs=only)
        return self._by_part(seg).applyInPandas(
            _frames(scorer), TOPK_SCHEMA).toPandas()

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
            .schema(TERM_VECTORS_SCHEMA)
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
        tv = self.spark.read.schema(TERM_VECTORS_SCHEMA).parquet(
            os.path.join(self.index_dir, "term_vectors"))
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
        return self._per_part(_term_docs_emit, sorted(set(terms)),
                              ["doc_part", "term", "docs", "tfs", "dls"],
                              "term string, doc_id bigint", local=False)

    def _parse_filters(self, filter) -> tuple[list[list[str]], list[tuple]]:
        """Split ES filter-context clauses into (term clauses, metadata
        clauses). A str / list element or a {"match": {field: text}} dict
        is a TERM clause (text analyzed by the index's analyzer; the doc
        must contain >= 1 of its tokens — ES match OR-default); a
        {"term"|"terms"|"range": {col: spec}} dict is a METADATA clause
        over doc-store columns. A match clause analyzing to nothing is a
        no-op (same leniency as the bool must adapter in plans/dsl.py).
        The long form {"match": {field: {"query": text, ...}}} takes
        `operator` ("and" makes one clause per token) and `boost` (a
        no-op in filter context); any other option raises ValueError."""
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
                    op = "or"
                    if isinstance(text, dict):
                        bad = sorted(set(text) - {"query", "operator",
                                                  "boost"})
                        if bad or "query" not in text:
                            raise ValueError(
                                "unsupported match option in filter "
                                f"context: {bad or 'no query'}")
                        op = str(text.get("operator", "or")).lower()
                        if op not in ("or", "and"):
                            raise ValueError(
                                f"unsupported match operator: {op}")
                        text = text["query"]
                    toks = sorted(set(self.analyze_query(str(text))))
                    if op == "and":
                        filt_clauses += [[t] for t in toks]
                    elif toks:
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

        Plan: one per-doc_part pass (_make_bool_taat) decodes the
        scanned terms' postings once, intersects the constraint clauses
        (must, filter term clauses, msm, must_not) into candidates and
        scores only them, with a margin-safe per-part top-k cut. A
        metadata filter adds the doc ids it admits, per part. Placement
        is _driver_ok over the scanned terms' Σdf, plus n_docs with a
        metadata filter: on a warm handle under SEARCH_DRIVER_CAP the pass
        runs on the driver over pyarrow reads — the admitted ids come
        from the doc store read with _meta_filter_pred's pyarrow
        expression (_doc_ids) — and the result is a LocalFrame, with no
        Spark job and no JVM call. Above it the pass is one
        applyInPandas plan, cogrouped with the pushed-down doc_store
        (doc_part, doc_id) stream when a metadata filter is present, then
        the Catalyst round + top-k tail. A must_not-only bool and a
        metadata-only filter are the equivalent search_bool_tree nodes,
        placed the same way. Both placements give identical rows
        (pytest-pinned)."""
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
            return self.search_bool_tree({"must_not": [must_not]}, k,
                                         _raw=True)
        if msm > len(should):
            # ES returns an empty hit set when minimum_should_match
            # exceeds the distinct should terms — adapter-submitted
            # bodies must not crash (ADVICE r4)
            return self._empty()
        constraints = must_clauses + filt_clauses
        if not constraints and not should and not must_not and meta_clauses:
            # pure metadata filter (no text terms anywhere): the tree's
            # filter-only node, every admitted doc at score 0
            return self.search_bool_tree({"filter": list(filter)}, k,
                                         _raw=True)
        scoring = sorted(set(must_terms) | set(should))
        filt_terms = sorted({t for c in filt_clauses for t in c})
        dfs = self.term_dfs(sorted(set(scoring) | set(filt_terms)))
        if any(all(dfs.get(t, 0) == 0 for t in c) for c in constraints):
            return self._empty()  # a clause of only absent terms: no match
        live_scoring = [t for t in scoring if dfs.get(t, 0) > 0]
        # ES filter context: with no must, filter-admitted docs matching
        # no should term are hits at score 0
        zero_fill = not must_clauses and has_filter
        if not live_scoring and not zero_fill:
            return self._empty()
        live_filt = [t for t in filt_terms if dfs.get(t, 0) > 0]
        mn_dfs = self.term_dfs(must_not) if must_not else {}
        live_mn = [t for t in must_not if mn_dfs.get(t, 0) > 0]
        scan_terms = sorted(set(live_scoring) | set(live_filt)
                            | set(live_mn))
        n_docs = float(self.stats["n_docs"])
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t])))
                   for t in live_scoring}
        live_set = set(scan_terms)
        scorer = _make_bool_taat(
            [sorted(set(c) & live_set) for c in constraints],
            live_mn, [t for t in should if t in idf_map], msm,
            live_scoring, idf_map, k1=float(self.stats["k1"]),
            b=float(self.stats["b"]), avgdl=float(self.stats["avgdl"]), k=k,
            zero_fill=zero_fill,
        )
        cols = ["doc_part", "term", "docs", "tfs", "dls"]
        if self._driver_ok(scan_terms, doc_store=bool(meta_clauses)):
            allowed = self._doc_ids(meta_clauses) if meta_clauses else None
            return self._round_cut(self._per_part_local(
                scorer, scan_terms, cols, allowed), k)
        seg = self._by_part(self._scan(scan_terms, cols))
        if not meta_clauses:
            return self._round_cut(
                seg.applyInPandas(_frames(scorer), TOPK_SCHEMA), k)
        doc_range = int(self.stats["doc_range"])
        pred = _meta_filter_pred(meta_clauses, self._store_schema())
        allowed = (self.doc_store().filter(pred)
                   .select((F.col("doc_id") / doc_range).cast("bigint")
                           .alias("doc_part"), "doc_id"))
        return self._round_cut(
            seg.cogroup(self._by_part(allowed)).applyInPandas(
                lambda left, right: pd.DataFrame(scorer(
                    left, np.sort(right["doc_id"].to_numpy(np.int64)))),
                TOPK_SCHEMA), k)

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

        Plan: the live tokens' segment rows -> per-doc_part
        group-intersection + candidate-restricted accumulation with a
        margin-safe per-part top-k cut (_make_groups_taat; per-doc
        ranges are disjoint so per-part results are complete) -> round
        6 dp + top-k. Placed by _driver_ok like search_bool: on the
        driver over a pyarrow read (a LocalFrame, no Spark job) under
        SEARCH_DRIVER_CAP, else one applyInPandas plan and the Catalyst
        tail.
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
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t])))
                   for t in scoring}
        scorer = _make_groups_taat(
            live_gs, idf_map, k1=float(self.stats["k1"]),
            b=float(self.stats["b"]), avgdl=float(self.stats["avgdl"]), k=k)
        return self._round_cut(self._per_part(
            scorer, scoring, ["doc_part", "term", "docs", "tfs", "dls"],
            TOPK_SCHEMA, self._driver_ok(scoring)), k)

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

        Plan (_bool_tree): the tree's clause rows — (doc_id, cid, score)
        for every term clause (one pruned segment scan whose per-term
        BM25 partials fan out to the clauses holding the term), every
        phrase clause (_phrase_scores), every metadata filter group
        (its admitted doc ids) and, when a must_not-only node needs
        them, every doc id — feed ONE numpy evaluator (_make_tree_eval):
        per-doc match flags and score sums by np.bincount, then the
        whole tree, every level, as array expressions. A tree whose read
        volume (Σdf of its term leaves, Σdf + Σcf of its phrase leaves,
        n_docs when a meta filter or must_not-only node reads the doc
        store) fits SEARCH_DRIVER_CAP on a warm index reads its rows
        with pyarrow and evaluates them on the driver once, returning a
        LocalFrame — no Spark job and no JVM call. Above the cap the
        SAME evaluator runs in one applyInPandas per doc_part over the
        union of the distributed clause relations (doc ranges are
        disjoint, so per-part results are complete). Rounded 6dp before
        the (score desc, doc_id asc) top-k cut (_round_cut).

        Reference parity: the reference's ES backend accepts nested bool
        bodies natively (es.search callers, e.g.
        /root/reference/netzpolitik/experiments/keyword_match_recall.py:30);
        its own experiments issue only flat shapes, so this closes the
        switching-user ES surface rather than a reference test."""
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_bool_tree(
                node, kk, _raw=True))
        return self._round_cut(self._bool_tree(node), k)

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
        return self._per_part(emit, terms,
                              ["doc_part", "term", "docs", "tfs", "dls"],
                              schema, local=False)

    def _term_emitter(self, terms: list[str],
                      idf_override: dict[str, float] | None = None,
                      fan: dict[str, list[int]] | None = None):
        """(live terms, per-doc_part closure emitting their (term, doc_id,
        score) BM25 partials) — _term_scores's scorer; with `fan` (term ->
        the bool tree's clause ids holding it) the tree's (doc_id, cid,
        score) clause rows, each posting once per clause of its term."""
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

        def emit(rows) -> dict:
            part = _Part(rows)
            tf = part.tfs.astype(np.float64)
            dl = part.dls.astype(np.float64)
            sc = (part.idf(idf_map) * (tf * (k1 + 1.0))
                  / (tf + k1 * (1.0 - b + b * dl / avgdl)))
            if fan is None:
                return {"term": part.term_col(), "doc_id": part.ids,
                        "score": sc}
            pairs = [(r, c) for r, t in enumerate(part.terms)
                     for c in fan[t]]
            r = np.array([p[0] for p in pairs], dtype=np.int64)
            lens = part.counts[r]
            # the postings of each pair's term, pair after pair
            at = (np.repeat(part.offs[r] - np.cumsum(lens) + lens, lens)
                  + np.arange(int(lens.sum())))
            return {"doc_id": part.ids[at],
                    "cid": np.repeat(np.array([p[1] for p in pairs],
                                              dtype=np.int64), lens),
                    "score": sc[at]}

        return terms, emit

    def _bool_tree(self, node: dict):
        """COMPLETE (doc_id, score) relation of a bool tree — a
        LocalFrame when it runs on the driver — or None for a tree with
        no effective clause (every child leniency-dropped, same no-op
        rule as the flat adapters) or no clause row. See
        search_bool_tree for the semantics and the plan."""
        def term_clause(c) -> list:
            toks = sorted({c} if isinstance(c, str) else set(c))
            return [t for t in toks if t]

        cids: list[tuple] = []          # term clauses (token tuples)
        cid_of: dict[tuple, int] = {}   # dedup identical clauses
        metas: list[list[tuple]] = []   # meta clause groups

        def leaf(key):
            """(cid,) of a term clause's token tuple or a phrase key."""
            if key not in cid_of:
                cid_of[key] = len(cids)
                cids.append(key)
            return (cid_of[key],)

        _PHRASE_KEY = "\x00phrase"  # impossible as an analyzed token

        def norm(nd: dict):
            """Normalize to {"must"/"should"/"must_not"/"filter":
            [leaf | node], "msm": int, "boost": float}; None = no-op. A
            leaf is (cid,) or, weighted, (cid, boost); meta filter group
            j is the leaf (-(j+1),)."""
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
                    x = leaf((_PHRASE_KEY, tuple(toks),
                              int(c.get("slop", 0)), alts))
                    return x + (w,) if w != 1.0 else x
                if isinstance(c, dict) and "terms" in c:
                    # weighted term clause {"terms": [...], "boost": w}
                    # (ES per-clause boost on a match/term clause): the
                    # clause shares its cid rows with unweighted twins —
                    # the weight rides the leaf, applied in score()
                    toks = term_clause(c["terms"])
                    if not toks:
                        return None
                    w = float(c.get("boost", 1.0))
                    x = leaf(tuple(toks))
                    return x + (w,) if w != 1.0 else x
                if isinstance(c, dict):
                    return norm(c)
                toks = term_clause(c)
                return leaf(tuple(toks)) if toks else None

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
                    out["filter"].append(leaf(tuple(toks)))
                if mcl:
                    metas.append(mcl)
                    out["filter"].append((-len(metas),))
            if not (out["must"] or out["should"] or out["must_not"]
                    or out["filter"]):
                return None
            return out

        root = norm(node)
        if root is None:
            return None

        # a node whose only children are must_nots matches every OTHER
        # doc (ES match_all-with-exclusions) — those docs may have no
        # clause row at all, so every doc id joins the rows
        def needs_all(x) -> bool:
            if isinstance(x, tuple):
                return False
            if (x["must_not"] and not x["must"] and not x["should"]
                    and not x["filter"]):
                return True
            return any(needs_all(c) for role in
                       ("must", "should", "must_not", "filter")
                       for c in x[role])

        fan: dict[str, list[int]] = {}  # term -> the clauses holding it
        for i, key in enumerate(cids):
            if not (key and key[0] == _PHRASE_KEY):
                for t in key:
                    fan.setdefault(t, []).append(i)
        # a phrase whose plan is None can't match: its cid has no row
        phrases = [(i, self._phrase_plan([t for t in key[1] if t],
                                         key[2], list(key[3]) or None))
                   for i, key in enumerate(cids)
                   if key and key[0] == _PHRASE_KEY]
        phrases = [(i, p) for i, p in phrases if p is not None]
        match_all = needs_all(root)
        live, emit_cids = self._term_emitter(sorted(fan), fan=fan)
        local = self._driver_ok(live, [t for _, p in phrases for t in p[0]],
                                bool(metas) or match_all)

        def tagged(rel, cid: int):
            """(doc_id, score) rows as the clause rows of `cid`."""
            if local:
                return {"doc_id": rel["doc_id"],
                        "cid": np.full(len(rel["doc_id"]), cid, np.int64),
                        "score": rel["score"]}
            return rel.select("doc_id", F.lit(cid).cast("bigint").alias(
                "cid"), "score")

        def admitted(mcl, cid: int):
            """The doc ids a meta clause group admits (all, without one)
            as score-0 clause rows of `cid`."""
            if local:
                ids = self._doc_ids(mcl)
                return tagged({"doc_id": ids, "score": np.zeros(ids.size)},
                              cid)
            store = self.doc_store()
            if mcl:
                store = store.filter(_meta_filter_pred(
                    mcl, self._store_schema()))
            return tagged(store.select(
                F.col("doc_id").cast("bigint").alias("doc_id"),
                F.lit(0.0).alias("score")), cid)

        rows = []
        if live:
            rows.append(self._per_part(
                emit_cids, live, ["doc_part", "term", "docs", "tfs", "dls"],
                "doc_id bigint, cid bigint, score double", local))
        for i, plan in phrases:
            sc = self._phrase_scores(plan, frame=not local)
            rows.append(None if sc is None else tagged(sc, i))
        rows += [admitted(mcl, -(j + 1)) for j, mcl in enumerate(metas)]
        if match_all:
            rows.append(admitted((), len(cids)))  # a cid no leaf reads
        rows = [r for r in rows if r is not None]
        if not rows:
            return None
        evaluate = _make_tree_eval(root)
        if local:
            return LocalFrame(self.spark, evaluate(_concat(rows)),
                              TOPK_SCHEMA)
        u = rows[0]
        for r in rows[1:]:
            u = u.unionByName(r)
        doc_range = int(self.stats["doc_range"])
        return self._by_part(u.withColumn(
            "doc_part", (F.col("doc_id") / doc_range).cast("bigint"))
        ).applyInPandas(_frames(evaluate), TOPK_SCHEMA)

    def _doc_ids(self, meta_clauses=()) -> np.ndarray:
        """Sorted ids of the doc-store rows every metadata clause admits
        (every row without one), on the driver — no Spark job and no JVM
        call. The filter is _meta_filter_pred's pyarrow expression: on a
        resident handle Table.filter applies it to the reader's doc
        store, otherwise a pyarrow read pushes it to parquet row
        groups."""
        reader = self._resident()
        if reader is not None and reader.store is not None:
            t = reader.store
            if meta_clauses:
                t = t.filter(_meta_filter_pred(meta_clauses, t.schema,
                                               arrow=True))
        else:
            import pyarrow.dataset as ds

            store = ds.dataset(os.path.join(self.index_dir, "doc_store"),
                               format="parquet", partitioning="hive")
            t = store.to_table(columns=["doc_id"], filter=(
                _meta_filter_pred(meta_clauses, store.schema, arrow=True)
                if meta_clauses else None))
        return np.sort(t.column("doc_id").to_numpy().astype(np.int64))

    def _store_schema(self):
        """The doc store's pyarrow schema: the column types
        _meta_filter_pred parses string values against (one footer read,
        memoized)."""
        if self._store_schema_memo is None:
            import pyarrow.dataset as ds

            self._store_schema_memo = ds.dataset(
                os.path.join(self.index_dir, "doc_store"),
                format="parquet", partitioning="hive").schema
        return self._store_schema_memo

    def _match_rel(self, query):
        """The COMPLETE (doc_id, score) match relation the
        boosting/function_score tails consume: a bool-tree dict's
        (_bool_tree), else the OR-disjunction's score_all (both placed by
        _driver_ok). None when nothing can match — an empty driver-placed
        relation, told apart with no Spark job."""
        rel = (self._bool_tree(query) if isinstance(query, dict)
               else self.score_all(query))
        return None if isinstance(rel, LocalFrame) and not rel.count() else rel

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
        ranking, so a fixed over-fetch is NOT exact: the complete
        score_all(positive) relation (placed by _driver_ok) is
        left-joined to the distinct negative membership and a Catalyst
        tail demotes, rounds and ranks — every positive match scored
        exactly once.
        """
        nb = float(negative_boost)
        if nb < 0:
            raise ValueError("negative_boost must be >= 0")
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_boosting(
                positive, negative, kk, negative_boost=nb, _raw=True))
        rel = self._match_rel(positive)
        if rel is None:
            return self._empty()
        neg = (self.analyze_query(negative) if isinstance(negative, str)
               else list(negative))
        ndfs = self.term_dfs(sorted(set(neg)))
        neg = sorted(t for t in set(neg) if ndfs.get(t, 0) > 0)
        if neg:
            negdocs = (self._term_docs(neg).select("doc_id").distinct()
                       .withColumn("neg", F.lit(True)))
            rel = (rel.join(negdocs, "doc_id", "left")
                   .na.fill({"neg": False}))
        else:
            rel = rel.withColumn("neg", F.lit(False))
        return _rank_topk(rel.select("doc_id", F.round(
            F.col("score")
            * F.when(F.col("neg"), F.lit(nb)).otherwise(F.lit(1.0)),
            6).alias("score")), k)

    def search_function_score(self, query, field: str, k: int, *,
                              factor: float = 1.0, modifier: str = "none",
                              missing: float = 1.0,
                              boost_mode: str = "multiply",
                              _raw: bool = False) -> DataFrame:
        """ES `function_score` with a `field_value_factor` function:
        final = round(bm25(query) OP f(doc_field), 6) over EVERY
        matching doc, where f = modifier(factor * coalesce(field,
        missing)), modifier in {none, log1p, sqrt} (ES's: log1p is the
        common logarithm log10(1 + x)), OP = boost_mode {multiply, sum}
        — the boost-by-popularity/recency shape an ES user reaches for
        next after plain relevance.

        Like `boosting`, the per-doc factor can promote docs from
        arbitrarily deep in the BM25 ranking, so a fixed over-fetch is
        not exact: the complete score_all(query) relation (placed by
        _driver_ok) — or a bool-tree query's complete relation — is
        joined to the doc store's factor column and a Catalyst tail
        combines, rounds and ranks.
        """
        if boost_mode not in ("multiply", "sum"):
            raise ValueError("boost_mode must be multiply or sum")
        if modifier not in ("none", "log1p", "sqrt"):
            raise ValueError("modifier must be none, log1p or sqrt")
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_function_score(
                query, field, kk, factor=factor, modifier=modifier,
                missing=missing, boost_mode=boost_mode, _raw=True))
        store = self.doc_store().select("doc_id", _field_value_factor(
            field, factor, modifier, missing).alias("fval"))
        rel = self._match_rel(query)
        if rel is None:
            return self._empty()
        fv = F.coalesce(F.col("fval"), F.lit(0.0))
        combined = (F.col("score") * fv if boost_mode == "multiply"
                    else F.col("score") + fv)
        return _rank_topk(rel.join(store, "doc_id", "left").select(
            "doc_id", F.round(combined, 6).alias("score")), k)

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
        arbitrarily deep in the BM25 ranking: the complete match
        relation (_match_rel) is left-joined to each function's full
        membership relation and the Catalyst tail (_functions_tail)
        combines, caps, rounds and ranks.
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
        mb = float(max_boost) if max_boost is not None else None
        if not _raw and self.n_deleted():
            return self._live(k, lambda kk: self.search_function_score_fns(
                query, functions, kk, score_mode=score_mode,
                boost_mode=boost_mode, max_boost=max_boost, _raw=True))
        rel = self._match_rel(query)
        if rel is None:
            return self._empty()
        return self._functions_tail(rel, parsed, score_mode, boost_mode,
                                    mb, k)

    def _functions_tail(self, rel: DataFrame, parsed: list,
                        score_mode: str, boost_mode: str, mb,
                        k: int) -> DataFrame:
        """Exact function_score over a COMPLETE (doc_id, score) match
        relation: left-join each function's full membership relation as
        a boolean f{i} flag (plus, for field_value_factor functions, ONE
        doc-store join carrying every needed v{i} value column), then
        combine + round + top-k in Catalyst. Function i contributes
        s_i = w_i * u_i (u_i = v{i} or 1). A doc with no firing function
        keeps its query score (uncapped — the ES no-match contract)."""
        vcols = [_field_value_factor(*p[3]).alias(f"v{i}")
                 for i, p in enumerate(parsed) if p[3] is not None]
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
                pred = _meta_filter_pred(mc, self._store_schema())
                r = self.doc_store().filter(pred).select("doc_id")
                mem = r if mem is None else mem.join(r, "doc_id",
                                                     "left_semi")
            rel = rel.join(mem.withColumn(f"f{i}", F.lit(True)),
                           "doc_id", "left")
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
        return _rank_topk(rel.select("doc_id", F.round(
            F.when(matched, op).otherwise(F.col("score")), 6).alias("score")),
            k)

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
        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in terms}
        want = np.array(sorted(set(int(d) for d in doc_ids)), dtype=np.int64)
        return self._per_part(
            _make_explainer(idf_map, want, k1=k1, b=b, avgdl=avgdl), terms,
            ["doc_part", "term", "docs", "tfs", "dls"], out_schema,
            local=False)

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
        plan = self._phrase_plan(terms[:-1], slop,
                                 self.expand_prefix(terms[-1], max_expansions))
        if plan is None:
            return self._empty()
        return self._phrase_topk(plan, k=k)

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
        runs on the driver over a pyarrow read and returns a LocalFrame —
        no Spark job and no JVM call, except composition; above it ONE
        distributed plan (the scoring stage plus a per-query window)
        amortizes the per-query Spark-job overhead — the
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

        dfs = self.term_dfs(all_terms)
        live = sorted(t for t in all_terms if dfs.get(t, 0) > 0)
        live_set = set(live)
        qlive = {qid: [t for t in ts if t in live_set]
                 for qid, ts in qterms.items()}
        qlive = {qid: ts for qid, ts in qlive.items() if ts}
        if not qlive:
            return self._empty(MANY_SCHEMA)

        idf_map = {t: float(lucene_idf(n_docs, float(dfs[t]))) for t in live}
        doc_range = int(self.stats["doc_range"])
        scorer = _make_multi_scorer(qlive, idf_map, k1=k1, b=b,
                                    avgdl=avgdl, k=k, mode=mode,
                                    doc_range=doc_range)
        # Per-part output is already top-k per query. Driver placement
        # (taat, warm, Σdf under SEARCH_DRIVER_CAP): the SAME per-part
        # scorer runs over a pyarrow read and the numpy merge below
        # finishes the batch — no Spark job. Otherwise ONE distributed
        # stage scores the batch and a per-query window takes each
        # top-k — the bounded-memory form at any batch and part count.
        local = mode == "taat" and self._driver_ok(live)
        got = self._per_part(scorer, live, list(_SCORE_COLS),
                             "query_id string, doc_id bigint, score double",
                             local)
        if not local:
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id"))
            out = (got.withColumn("rank",
                                  (F.row_number().over(w) - 1).cast("bigint"))
                   .filter(F.col("rank") < k)
                   .select("query_id", "rank", "doc_id", "score"))
            if alias:
                amap = self.spark.createDataFrame(
                    list(alias.items()), "alias_id string, query_id string")
                out = out.unionByName(
                    out.join(F.broadcast(amap), "query_id").select(
                        F.col("alias_id").alias("query_id"), "rank",
                        "doc_id", "score"))
            return out
        if got is None or not len(got["doc_id"]):
            return self._empty(MANY_SCHEMA)
        # numpy merge: hash-factorize the query ids (no string sort),
        # one lexsort by (query, score desc, doc_id asc), vectorized
        # within-query ranks — a pandas sort_values over ~1M rows was
        # the measured single-threaded floor of the batch path
        qids, scores, doc_ids = got["query_id"], got["score"], got["doc_id"]
        qcode, _ = pd.factorize(qids, sort=False)
        order = np.lexsort((doc_ids, -scores, qcode))
        qs = qcode[order]
        first = np.concatenate(([0], np.flatnonzero(np.diff(qs)) + 1))
        counts = np.diff(np.append(first, qs.size))
        ranks = np.arange(qs.size) - np.repeat(first, counts)
        sel = order[ranks < k]
        top = {"query_id": qids[sel], "rank": ranks[ranks < k],
               "doc_id": doc_ids[sel], "score": scores[sel]}
        dups = []
        for a, c in alias.items():
            m = top["query_id"] == c
            dups.append({**{col: v[m] for col, v in top.items()},
                         "query_id": np.full(int(m.sum()), a, object)})
        return LocalFrame(self.spark, _concat([top] + dups), MANY_SCHEMA)


def search_dismax(field_indexes: dict, query, k: int, *,
                  tie_breaker: float = 0.0,
                  boosts: dict | None = None,
                  _raw: bool = False) -> DataFrame:
    """Multi-field best_fields retrieval over PER-FIELD segment indexes —
    the indexed form of the reference's query shape (query_string over
    [title, text] in its wapo/experiments/ranking.py:128-139).
    Each field scores with its OWN index statistics (field-local N/avgdl/
    df — ES DisjunctionMaxQuery semantics): its complete score_all
    relation, combined max + tie_breaker * (sum - max) and rounded 6dp
    before the (score desc, doc_id asc) top-k cut (_dismax). Exactly
    matches the compositional operators.bm25.dismax_bm25_topk (asserted
    in tests) without re-tokenizing any corpus.

    field_indexes: {field_name: SegmentIndex} — one index per field.
    query: one text/term-list scored against every field (the
    multi_match / query_string-over-fields shape), or a
    {field_name: text} dict — the explicit ES `dis_max` kind, where
    each sub-query carries its own text for its own field.
    boosts: optional {field_name: factor >= 0} — ES field boosts
    (`title^3`): the field's BM25 scores are multiplied by the factor
    before the DisMax combine (missing fields default 1.0).
    _raw=True keeps tombstoned docs (internal probes only)."""
    return _dismax(field_indexes, lambda n, si: si.score_all(
        query[n] if isinstance(query, dict) else query),
        boosts, tie_breaker, k, raw=_raw)


def _dismax(field_indexes: dict, field_rel, boosts: dict | None,
            tie_breaker: float, k: int, raw: bool = False) -> DataFrame:
    """The multi-field family's one combine. field_rel(name, index)
    gives a field's COMPLETE relation — a LocalFrame when driver-placed,
    a DataFrame above the cap, None when the field cannot match — of
    (doc_id, score) rows, or (term, doc_id, score) for cross_fields.
    Docs tombstoned in ANY field's index drop out unless `raw` (exact:
    the relations are complete). Each row's score is scaled by its
    field's boost; per (doc, term) the fields combine max + tie_breaker
    * (sum - max), summed in field order with 0.0 for a missing field;
    a doc sums its terms' combines in term order; then _round_cut. With
    every relation driver-placed (each proven by its own _driver_ok, so
    the driver holds at most fields x the cap) and every dead set on the
    driver, `combine` runs once there with no Spark job; otherwise in
    one applyInPandas over the union by doc_part — a doc's rows all fall
    in one part."""
    bf = np.array([float((boosts or {}).get(n, 1.0)) for n in field_indexes])
    if (bf < 0).any():
        raise ValueError("field boosts must be >= 0")
    tb = float(tie_breaker)

    def combine(rows) -> dict:
        doc = np.asarray(rows["doc_id"], np.int64)
        fid = np.asarray(rows["fid"], np.int64)
        term = (np.unique(np.asarray(rows["term"], object),
                          return_inverse=True)[1]
                if "term" in rows else np.zeros(doc.size, np.int64))
        ids, dinv = np.unique(doc, return_inverse=True)
        n_t = int(term.max(initial=0)) + 1
        pairs, pinv = np.unique(dinv * n_t + term, return_inverse=True)
        grid = np.zeros((pairs.size, bf.size))
        grid[pinv, fid] = np.asarray(rows["score"], np.float64) * bf[fid]
        best = grid.max(axis=1)
        total = grid[:, 0]
        for j in range(1, bf.size):
            total = total + grid[:, j]
        blend = best + tb * (total - best)
        # pairs are (doc, term)-sorted: add every doc's n-th term at once
        pdoc = pairs // n_t
        first = np.flatnonzero(np.r_[True, pdoc[1:] != pdoc[:-1]])
        nth = np.arange(pairs.size) - np.repeat(
            first, np.diff(np.r_[first, pairs.size]))
        score = np.zeros(ids.size)
        for n in range(int(nth.max(initial=-1)) + 1):
            at = nth == n
            score[pdoc[at]] += blend[at]
        return {"doc_id": ids, "score": score}

    sis = list(field_indexes.values())
    rels = [(i, r) for i, r in enumerate(
        field_rel(n, si) for n, si in field_indexes.items()) if r is not None]
    if not rels:
        return sis[0]._empty()
    tombs = [] if raw else [t for t in (si._tombstones() for si in sis)
                            if t[0]]
    if (all(isinstance(r, LocalFrame) for _, r in rels)
            and all(t[1] is not None for t in tombs)):
        rows = _concat([{**r._cols, "fid": np.full(r.count(), i, np.int64)}
                        for i, r in rels])
        if tombs:
            live = ~np.isin(rows["doc_id"],
                            np.concatenate([t[1] for t in tombs]))
            rows = {c: v[live] for c, v in rows.items()}
        return sis[0]._round_cut(combine(rows), k)
    u = None
    for i, r in rels:
        r = r.withColumn("fid", F.lit(i).cast("bigint"))
        u = r if u is None else u.unionByName(r)
    for si in ([] if raw else sis):
        u = si._exclude_dead(u)
    doc_range = int(sis[0].stats["doc_range"])
    return sis[0]._round_cut(sis[0]._by_part(u.withColumn(
        "doc_part", (F.col("doc_id") / doc_range).cast("bigint"))
    ).applyInPandas(_frames(combine), TOPK_SCHEMA), k)


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
    - doc score: sum over terms in term order (operator 'or'), rounded
      6dp before the (score desc, doc_id asc) top-k cut.

    Plan: per field ONE pruned segment scan emits (term, doc_id,
    partial) with the blended idf (_term_emitter idf_override), then
    _dismax. No corpus scan."""
    tb = float(tie_breaker)
    if not 0.0 <= tb <= 1.0:
        raise ValueError("cross_fields tie_breaker must be in [0, 1]")
    si0 = next(iter(field_indexes.values()))
    terms = sorted(set(si0.analyze_query(query) if isinstance(query, str)
                       else query))
    dfs_f = {n: si.term_dfs(terms) for n, si in field_indexes.items()}
    df_b = {t: max(int(dfs_f[n].get(t, 0)) for n in field_indexes)
            for t in terms}
    terms = [t for t in terms if df_b[t] > 0]
    if not terms:
        return si0._empty()
    schema = "term string, doc_id bigint, score double"

    def field_rel(n, si):
        n_docs = float(si.stats["n_docs"])
        idf_o = {t: float(lucene_idf(n_docs, float(df_b[t])))
                 for t in terms if dfs_f[n].get(t, 0) > 0}
        live, emit = si._term_emitter(terms, idf_override=idf_o)
        rel = si._per_part(emit, live, ["doc_part", "term", "docs", "tfs",
                                        "dls"], schema,
                           si._driver_ok(live)) if live else None
        return (LocalFrame(si.spark, rel, schema)
                if isinstance(rel, dict) else rel)
    return _dismax(field_indexes, field_rel, boosts, tb, k, raw=_raw)


def search_dismax_bool(field_indexes: dict, groups, k: int, *,
                       tie_breaker: float = 0.0,
                       boosts: dict | None = None,
                       per_token: bool = False) -> DataFrame:
    """Per-field DisMax over an OR-of-AND-groups grammar — the
    multi-field `query_string` conjunction/mixed shape (ES best_fields:
    the WHOLE query parses per field, per-field scores combine
    max + tie_breaker * (sum - max)).

    `groups`: list of conjunction groups, each a list of operand TEXTS
    ('a AND b OR c' = [[a, b], [c]]); each operand analyzes PER FIELD
    (field analyzers may differ) to an ES match clause (OR of its
    tokens). A field matches a doc iff the doc satisfies EVERY clause of
    >= 1 group in that field; the field score is the summed BM25 over
    its matched groups (search_mixed semantics, field-local stats) —
    the COMPLETE relation of the single-scan tree evaluator
    (_bool_tree). A doc enters the result iff >= 1 field matches.

    per_token=True switches the clause unit from OPERAND to TOKEN:
    every analyzed token of every operand becomes its own required
    clause in that field (deduped + sorted — the engine's match
    operator:'and' convention) — the ES `multi_match` operator:'and'
    contract (AND between ALL tokens the field analyzer emits, so a
    camelCase word the code analyzer splits still requires BOTH
    parts). Tokens the analyzer drops (stopwords) are not required,
    like ES."""
    def field_rel(_, si):
        if per_token:
            gs = [[[t] for t in sorted({t for p in g
                                        for t in si.analyze_query(p)})]
                  for g in groups]
        else:
            gs = [[si.analyze_query(p) for p in g] for g in groups]
        gs = [[c for c in g if c] for g in gs]
        gs = [g for g in gs if g]
        return si._bool_tree(
            {"must": gs[0]} if len(gs) == 1 else
            {"should": [{"must": g} for g in gs]}) if gs else None
    return _dismax(field_indexes, field_rel, boosts, tie_breaker, k)


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
    are selective by construction), then _dismax. A field where the
    phrase cannot match (absent term / zero expansions / empty
    analysis) contributes nothing, like an ES field with no phrase
    hits."""
    def field_rel(_, si):
        ts = si.analyze_query(text)
        alts = (si.expand_prefix(ts[-1], max_expansions=max_expansions)
                if ts and prefix else None)
        # no plan for an empty analysis, an absent term or no expansion
        plan = si._phrase_plan(ts[:-1] if prefix else ts, int(slop),
                               alts) if ts else None
        return None if plan is None else si._phrase_scores(plan)
    return _dismax(field_indexes, field_rel, boosts, tie_breaker, k)


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

    def match_group(rows) -> dict:
        part = _Part(rows, positions=True)
        fixed = phrase[:-1] if last_alts is not None else phrase
        alts = ([t for t in last_alts if t in part.at]
                if last_alts is not None else None)
        if (any(t not in part.at for t in fixed)
                or (alts is not None and not alts)):
            # a required term absent from this doc range
            return _no_rows(PHRASE_CAND_SCHEMA)

        def dec(t):
            s = part.span(t)
            return part.ids[s], part.tfs[s], part.dls[s]

        if not fixed:
            # pure-prefix single-position phrase: occ = total positions of
            # any alternative per doc; dl from the first alternative
            # holding the doc
            ids, tfs, dls = (np.concatenate(c)
                             for c in zip(*(dec(t) for t in alts)))
            uniq, first, inv = np.unique(ids, return_index=True,
                                         return_inverse=True)
            return {"doc_id": uniq,
                    "occ": np.bincount(inv, tfs).astype(np.int64),
                    "dl": dls[first]}

        present = set(fixed) | set(alts or [phrase[-1]])
        all_ids = np.unique(np.concatenate([dec(t)[0] for t in present]))
        keys = {}
        for t in present:
            ids, tfs, _ = dec(t)
            loc = np.searchsorted(all_ids, ids)
            keys[t] = (np.repeat(loc, tfs) << POS_BITS) + part.positions(t)

        ids0, tfs0, dls0 = dec(fixed[0])
        k0 = keys[fixed[0]]
        mask = np.ones(k0.size, dtype=bool)
        for j, t in enumerate(fixed[1:], start=1):
            mask &= np.isin(k0 + j, keys[t])
        if alts is not None:
            last_keys = np.concatenate([keys[t] for t in alts])
            mask &= np.isin(k0 + len(fixed), last_keys)
        occ = np.bincount(np.repeat(np.arange(ids0.size), tfs0)[mask],
                          minlength=ids0.size)
        sel = occ > 0
        return {"doc_id": ids0[sel], "occ": occ[sel].astype(np.int64),
                "dl": dls0[sel]}

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

    def match_group(rows) -> dict:
        part = _Part(rows, positions=True)
        fixed = phrase[:-1] if last_alts is not None else phrase
        alts = ([t for t in last_alts if t in part.at]
                if last_alts is not None else None)
        if any(t not in part.at for t in fixed) or (alts is not None
                                                    and not alts):
            # a required term absent from this doc range
            return _no_rows(PHRASE_CAND_SCHEMA)
        # candidate docs: present in EVERY fixed term's postings (and,
        # prefix form, in at least one expansion's postings)
        cand = part.ids[part.span(fixed[0])]
        for t in fixed[1:]:
            cand = cand[np.isin(cand, part.ids[part.span(t)])]
        if alts is not None and cand.size:
            alt_union = np.unique(
                np.concatenate([part.ids[part.span(t)] for t in alts]))
            cand = cand[np.isin(cand, alt_union)]
        if not cand.size:
            return _no_rows(PHRASE_CAND_SCHEMA)
        # per term, each candidate's posting (global index into the
        # part's postings): its positions are pos[poffs[p]:poffs[p + 1]]
        at = {}
        for t in set(fixed) | set(alts or []):
            s = part.span(t)
            p = s.start + np.searchsorted(part.ids[s], cand)
            ok = p < s.stop
            ok[ok] = part.ids[p[ok]] == cand[ok]
            at[t] = (p, ok)
        def positions(t, i):
            p = at[t][0][i]
            return part.pos[part.poffs[p]:part.poffs[p + 1]]

        occ = np.zeros(cand.size, dtype=np.int64)
        for i in range(cand.size):
            qs = [np.sort(positions(t, i)) - j for j, t in enumerate(fixed)]
            if alts is not None:
                qs.append(np.sort(np.concatenate(
                    [positions(t, i) for t in alts if at[t][1][i]]))
                    - len(fixed))
            occ[i] = _sloppy_tf(qs, slop)
        sel = occ > 0
        return {"doc_id": cand[sel], "occ": occ[sel],
                "dl": part.dls[at[fixed[0]][0][sel]]}

    return match_group


def _term_docs_emit(rows) -> dict:
    """Per-doc_part (term, doc_id) membership rows (_term_docs)."""
    part = _Part(rows)
    return {"term": part.term_col(), "doc_id": part.ids}


def _make_explainer(idf_map: dict[str, float], want: np.ndarray, *,
                    k1: float, b: float, avgdl: float):
    """Per-doc_part explain rows (doc_id, term, tf, dl, idf, partial) of
    the sorted doc ids `want` (SegmentIndex.explain)."""

    def explain_group(rows) -> dict:
        part = _Part(rows)
        m = np.isin(part.ids, want)
        idf = part.idf(idf_map)[m]
        tfs, dls = part.tfs[m], part.dls[m]
        return {"doc_id": part.ids[m], "term": part.term_col()[m],
                "tf": tfs, "dl": dls, "idf": idf,
                "partial": idf * tf_norm(tfs.astype(np.float64),
                                         dls.astype(np.float64),
                                         k1=k1, b=b, avgdl=avgdl)}

    return explain_group


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

    def score_group(rows) -> dict:
        if mode == "wand":
            ids, scores = _wand_topk(rows, idf_map, k1=k1, b=b, avgdl=avgdl,
                                     k=k, after=after)
        else:
            ids, scores = _taat_topk(rows, idf_map, k1=k1, b=b, avgdl=avgdl,
                                     k=k, only_docs=only_docs, after=after)
        return {"doc_id": ids, "score": scores}

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

    def score_group(rows) -> dict:
        part = _Part(rows)
        # idf * tf_norm depends only on the term: once per posting
        contrib = part.idf(idf_map) * tf_norm(
            part.tfs.astype(np.float64), part.dls.astype(np.float64),
            k1=k1, b=b, avgdl=avgdl)
        dense = (mode != "wand" and part.terms and doc_range is not None
                 and 0 < doc_range <= DENSE_RANGE_CAP)
        if dense:
            base = int(np.asarray(part.rows["doc_part"])[0]) * doc_range
            loc = part.ids - base
            acc_buf = np.zeros(doc_range)
            stamp = np.full(doc_range, -1, dtype=np.int32)
        out_q: list[np.ndarray] = []
        out_ids: list[np.ndarray] = []
        out_scores: list[np.ndarray] = []
        for qi, qid in enumerate(sorted(qterms)):
            terms = [t for t in qterms[qid] if t in part.at]
            if not terms:
                continue
            if mode == "wand":
                ids, scores = _wand_topk(part, idf_map, k1=k1, b=b,
                                         avgdl=avgdl, k=k, terms=terms)
            elif dense:
                newly = []
                for t in terms:  # sorted order: per-doc adds term-ordered
                    s = part.span(t)
                    lt = loc[s]
                    # posting doc-ids are unique per term, so fancy-index
                    # += is exact here (and much faster than np.add.at)
                    acc_buf[lt] += contrib[s]
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
                sel = [part.span(t) for t in terms]
                ids = np.concatenate([part.ids[s] for s in sel])
                uniq, inv = np.unique(ids, return_inverse=True)
                acc = np.zeros(uniq.size)
                np.add.at(acc, inv, np.concatenate([contrib[s] for s in sel]))
                order = np.lexsort((uniq, -acc))[:k]
                ids, scores = uniq[order], acc[order]
            if ids.size:
                out_q.append(np.full(ids.size, qid, dtype=object))
                out_ids.append(ids)
                out_scores.append(scores)
        if not out_q:
            return _no_rows("query_id string, doc_id bigint, score double")
        return {"query_id": np.concatenate(out_q),
                "doc_id": np.concatenate(out_ids),
                "score": np.concatenate(out_scores)}

    return score_group


def _taat_topk(rows, idf_map, *, k1, b, avgdl, k, only_docs=None,
               after=None):
    """Exact vectorized term-at-a-time over one part's rows (or its
    _Part): decode every matched posting in one pass, accumulate
    idf*tf_norm per doc (term-sorted order), top-k.
    only_docs (sorted int64) drops non-candidate postings pre-accumulation.
    after=(score, doc_id) keeps only docs strictly after the cursor in
    (score desc, doc_id asc) order — the cut happens on the FINAL
    accumulated score, so it is exact, not heuristic."""
    part = rows if isinstance(rows, _Part) else _Part(rows)
    ids, tfs, dls, idf = part.ids, part.tfs, part.dls, part.idf(idf_map)
    if only_docs is not None:
        keep = np.isin(ids, only_docs)
        ids, tfs, dls, idf = ids[keep], tfs[keep], dls[keep], idf[keep]
    if not ids.size:
        return np.empty(0, dtype=np.int64), np.empty(0)
    scores = idf * tf_norm(tfs.astype(np.float64), dls.astype(np.float64),
                           k1=k1, b=b, avgdl=avgdl)
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


def _wand_topk(rows, idf_map, *, k1, b, avgdl, k, stats=None, after=None,
               terms=None):
    """Block-max WAND (Ding & Suel, 2011 — public algorithm): doc-at-a-time
    pivoting over per-term cursors with global and per-block upper bounds.
    Rank-safe: returns exactly the taat top-k (asserted in tests).

    Regime note: WAND pays a per-doc Python loop to SKIP work; it wins when
    idf skew lets the threshold exclude most docs (selective + hot term
    mixes). On flat-score corpora (every term in every doc) the exact
    vectorized taat path is faster — which is why taat is the default mode.
    `terms` restricts the cursors (search_many's per-query pass);
    `stats` (optional dict) receives n_scored / n_skip_jumps /
    n_candidates so tests can assert pruning actually happens."""
    part = rows if isinstance(rows, _Part) else _Part(rows)
    tfn = part.idf(idf_map) * tf_norm(
        part.tfs.astype(np.float64), part.dls.astype(np.float64),
        k1=k1, b=b, avgdl=avgdl)
    lasts = _pylist(part.rows["block_last"])
    maxes = _pylist(part.rows["block_max"])
    cursors: list[_TermCursor] = []
    for r, t in enumerate(part.terms):  # term order
        if terms is None or t in terms:
            s, idf = part.span(t), idf_map[t]
            # float32 block max was rounded up at encode; widen then scale
            cursors.append(_TermCursor(
                t, idf, part.ids[s], tfn[s], np.asarray(lasts[r], np.int64),
                idf * np.asarray(maxes[r], dtype=np.float64)))
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
