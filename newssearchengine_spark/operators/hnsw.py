"""From-scratch HNSW graph ANN over embedding columns, Spark-first.

The reference's vector path is an embedded hnswlib HNSW index
(/root/reference/pyw_hnswlib.py:9-16 M=100 ef=150,
/root/reference/vector_storage.py:43-56, cosine space). This module
re-implements the PUBLIC algorithm (Malkov & Yashunin 2016,
"Efficient and robust approximate nearest neighbor search using
Hierarchical Navigable Small World graphs", arXiv:1603.09320 —
Algorithms 1-5) with Spark-native plumbing:

- **Build = one shuffle + embarrassingly-parallel graph construction.**
  Vectors are sharded by `vec_id % n_shards`; each shard builds an
  independent HNSW graph inside ONE `applyInPandas` group (numpy,
  vectorized distance batches — never per-row Python). This is exactly
  the Lucene/Elasticsearch segment model the reference itself runs on:
  ES keeps one HNSW graph PER SEGMENT and fans queries out across them.
  At 100 TB the shard count is chosen so one shard's vectors fit an
  executor (1-10M vectors), the build is a single hash shuffle, and the
  graph rows persist `partitionBy(shard)` so a probe prunes partitions.
- **Search = per-shard beam search + exact re-score.** The query
  descends each shard's graph (greedy on upper layers, ef-beam on
  layer 0) to produce per-shard candidates; the FINAL scores come from
  the same cosine + round(6) contract as `brute_force_knn`, so scores
  are bit-identical to the exact path and the graph contributes
  candidates only — recall is the only approximation, never the
  numbers. Two regimes share one shard decoder (`_decode_shard`) and
  one beam (`_beam`): the distributed probe (`hnsw_candidates`, one
  applyInPandas group per shard, re-scored in Catalyst) and the driver
  regime (`driver_graph` + `driver_candidates`): a graph frame served
  from Spark's cache, with rows x dim <= DRIVER_ELEMS_CAP proven first,
  is decoded ONCE on the driver and every later probe beams over the
  decoded shards with no Spark job (the in-process hnswlib graph of
  the reference); the caller re-scores with the bit-identical numpy
  folds of operators.similarity.
- **Determinism.** Level assignment replaces hnswlib's RNG with a
  splitmix64 hash of the vector id (same geometric distribution,
  reproducible across runs/routes); insertion order is ascending
  vec_id; every heap tie breaks on id. Two builds of the same corpus
  are row-identical (pytest-pinned).

Exactness switch (the gate's hash-check): with M, ef_construction and
ef all >= the largest shard, the layer-0 graph is COMPLETE (the select
heuristic's keep-pruned refill keeps every candidate when M >= |W|, and
the shrink step never triggers), and an ef >= |shard| beam never evicts,
so `search_layer` provably visits the whole shard. Per-shard candidates
are then the whole corpus and the Catalyst re-score makes the result
EXACT — the DuckDB oracle is plain brute force. Production parameters
(M=16, ef=64) run the same code on the pruned graph; recall is
pytest-pinned and benchmarked next to the IVF points.
"""

from __future__ import annotations

import heapq
import json
import math
import os
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import DriverMemo, as_double, cosine

_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (public splitmix64 constants)."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def _level_of(vec_id: int, m_l: float) -> int:
    """HNSW level draw: floor(-ln(U) * mL) with U from a hash of the id
    instead of an RNG — same geometric distribution, deterministic."""
    u = (_splitmix64(int(vec_id)) + 1) / float(1 << 64)  # (0, 1]
    return int(-math.log(u) * m_l)


# ---------------------------------------------------------------- build

def _search_layer(q: np.ndarray, eps: list[int], ef: int, adj: dict,
                  vecs: np.ndarray, dists: dict) -> list[tuple[float, int]]:
    """Algorithm 2: beam search one layer. Returns the ef closest
    (dist, idx) pairs, dist = -cosine on unit vectors (asc = closer).
    `dists` memoizes query distances across layers of one descent."""

    def d(i: int) -> float:
        if i not in dists:
            dists[i] = -float(np.dot(vecs[i], q))
        return dists[i]

    visited = set(eps)
    cand = [(d(e), e) for e in eps]   # min-heap: closest first
    heapq.heapify(cand)
    res = [(-dd, e) for dd, e in cand]  # max-heap of kept: worst first
    heapq.heapify(res)
    while cand:
        cd, c = heapq.heappop(cand)
        if res and cd > -res[0][0] and len(res) >= ef:
            break
        for nb in adj.get(c, ()):
            if nb in visited:
                continue
            visited.add(nb)
            nd = d(nb)
            if len(res) < ef or nd < -res[0][0]:
                heapq.heappush(cand, (nd, nb))
                heapq.heappush(res, (-nd, nb))
                if len(res) > ef:
                    heapq.heappop(res)
    out = [(-nd, e) for nd, e in res]
    out.sort(key=lambda t: (t[0], t[1]))
    return out


def _select_neighbors(q_idx: int, cands: list[tuple[float, int]], m: int,
                      vecs: np.ndarray) -> list[int]:
    """Algorithm 4 heuristic (keepPrunedConnections=True, hnswlib's
    default): keep candidates not dominated by an already-kept closer
    neighbor; refill from the pruned set up to m."""
    cands = sorted(cands, key=lambda t: (t[0], t[1]))
    kept: list[int] = []
    pruned: list[int] = []
    for dq, e in cands:
        if len(kept) >= m:
            pruned.append(e)
            continue
        ok = True
        for r in kept:
            if -float(np.dot(vecs[e], vecs[r])) < dq:
                ok = False
                break
        kept.append(e) if ok else pruned.append(e)
    for e in pruned:
        if len(kept) >= m:
            break
        kept.append(e)
    return kept


def _insert_nodes(new_idxs: list[int], ids: np.ndarray, vecs: np.ndarray,
                  adj: list[dict[int, list[int]]], entry: int,
                  max_level: int, m: int,
                  ef_construction: int) -> tuple[list, int, int]:
    """Algorithm 1 insertion of `new_idxs` (in order) into an existing
    layered adjacency (empty: [dict()], entry -1, max_level -1). Returns
    the grown (adj, entry, max_level). Shared by the cold build and the
    incremental `hnsw_add`; ids ascending is the deterministic cold-build
    insertion order."""
    m_l = 1.0 / math.log(m) if m > 1 else 1.0
    m_max, m_max0 = m, 2 * m
    for idx in new_idxs:
        lvl = _level_of(int(ids[idx]), m_l)
        while len(adj) <= lvl:
            adj.append(dict())
        if entry < 0:
            for lc in range(lvl + 1):
                adj[lc][idx] = []
            entry, max_level = idx, lvl
            continue
        dists: dict[int, float] = {}
        q = vecs[idx]
        eps = [entry]
        for lc in range(max_level, lvl, -1):
            eps = [_search_layer(q, eps, 1, adj[lc], vecs, dists)[0][1]]
        for lc in range(min(lvl, max_level), -1, -1):
            w = _search_layer(q, eps, ef_construction, adj[lc], vecs, dists)
            nbrs = _select_neighbors(idx, w, m, vecs)
            adj[lc][idx] = list(nbrs)
            cap = m_max0 if lc == 0 else m_max
            for nb in nbrs:
                lst = adj[lc][nb]
                lst.append(idx)
                if len(lst) > cap:
                    cand = [(-float(np.dot(vecs[nb], vecs[e])), e)
                            for e in lst]
                    adj[lc][nb] = _select_neighbors(nb, cand, cap, vecs)
            eps = [e for _, e in w]
        for lc in range(max_level + 1, lvl + 1):
            adj[lc][idx] = []
        if lvl > max_level:
            entry, max_level = idx, lvl
    return adj, entry, max_level


def _unit_rows(v) -> np.ndarray:
    """Row-normalize vectors to float64 unit length (zero rows stay 0)."""
    vecs = np.array(v, dtype=np.float64)
    nrm = np.sqrt((vecs * vecs).sum(axis=1))
    nrm[nrm == 0.0] = 1.0
    return vecs / nrm[:, None]


def _shard_frame(shard: int, ids: np.ndarray, vecs: np.ndarray,
                 adj: list[dict[int, list[int]]]) -> pd.DataFrame:
    """One shard's adjacency as graph rows, one per (node, layer); the
    unit vector rides on level-0 rows only."""
    rows = [(int(ids[node]), lc, [int(ids[nb]) for nb in nbrs],
             vecs[node].tolist() if lc == 0 else None)
            for lc, layer in enumerate(adj) for node, nbrs in layer.items()]
    return pd.DataFrame({
        "shard": [shard] * len(rows),
        "vec_id": [r[0] for r in rows],
        "level": [r[1] for r in rows],
        "nbrs": [r[2] for r in rows],
        "uv": [r[3] for r in rows],
    })


def _decode_shard(pdf: pd.DataFrame) -> tuple:
    """One shard's graph rows -> (ids ascending, unit vectors, per-level
    adjacency over row positions, entry position, top level) — the one
    decoder behind the distributed probe, hnsw_add and the driver memo.
    Positions follow vec_id order, so heap ties break on id whatever
    order the rows arrive in. Entry = the top layer's min-id node."""
    l0 = pdf[pdf["level"] == 0].sort_values("vec_id")
    ids = l0["vec_id"].to_numpy(dtype=np.int64)
    vecs = np.array(l0["uv"].tolist(), dtype=np.float64)
    pos = {int(v): j for j, v in enumerate(ids)}
    max_level = int(pdf["level"].max())
    adj: list[dict[int, list[int]]] = [dict() for _ in range(max_level + 1)]
    for lvl, vid, nbrs in zip(pdf["level"], pdf["vec_id"], pdf["nbrs"]):
        adj[int(lvl)][pos[int(vid)]] = [pos[int(n)] for n in nbrs]
    entry = min(adj[max_level].keys(), key=lambda j: ids[j])
    return ids, vecs, adj, entry, max_level


_GRAPH_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType()),
    T.StructField("vec_id", T.LongType()),
    T.StructField("level", T.IntegerType()),
    T.StructField("nbrs", T.ArrayType(T.LongType())),
    T.StructField("uv", T.ArrayType(T.DoubleType())),
])


def hnsw_build(emb: DataFrame, *, n_shards: int = 4, m: int = 16,
               ef_construction: int = 100, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Build per-shard HNSW graphs: ONE hash shuffle on
    `vec_id % n_shards`, then one vectorized pandas group per shard.
    Output rows (shard, vec_id, level, nbrs, uv) are self-contained for
    search (uv = the unit vector, carried on level-0 rows only — the
    hnswlib .bin file stores vectors the same way). Persist with
    `hnsw_save` (partitionBy(shard) -> partition-pruned probes)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        vecs = _unit_rows(pdf["v"].tolist())
        adj, _, _ = _insert_nodes(list(range(len(ids))), ids, vecs,
                                  [dict()], -1, -1, m, ef_construction)
        return _shard_frame(int(pdf["shard"].iloc[0]), ids, vecs, adj)

    base = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_shards))
         .cast("int").alias("shard"),
        as_double(F.col(vec_col)).alias("v"),
    )
    return (base.repartition(n_shards, "shard")
                .groupBy("shard").applyInPandas(build, _GRAPH_SCHEMA))


def hnsw_add(graph: DataFrame, new_emb: DataFrame, *, n_shards: int,
             m: int = 16, ef_construction: int = 100,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Incrementally insert `new_emb` into an existing graph (the
    reference wrapper's thread-safe add_items, pyw_hnswlib.py:24-31, and
    the graph analogue of run_incremental_index): new vectors shard by
    the SAME vec_id % n_shards rule, then one cogrouped pandas task per
    shard replays Algorithm 1 insertion on top of the reconstructed
    adjacency — only shards receiving new vectors do any work; untouched
    shards pass through unchanged. The grown graph differs from a cold
    rebuild (insertion order differs, like any live HNSW), but in the
    exhaustive config results are identical and production recall is
    pytest-pinned; duplicate ids are rejected per shard."""

    def grow(gpdf: pd.DataFrame, npdf: pd.DataFrame) -> pd.DataFrame:
        if len(npdf) == 0:
            return gpdf
        npdf = npdf.sort_values("vec_id").reset_index(drop=True)
        ids = npdf["vec_id"].to_numpy(dtype=np.int64)
        vecs = _unit_rows(npdf["v"].tolist())
        adj, entry, max_level, n_old = [dict()], -1, -1, 0
        if len(gpdf):
            old_ids, old_vecs, adj, entry, max_level = _decode_shard(gpdf)
            dup = set(old_ids.tolist()) & set(ids.tolist())
            if dup:
                raise ValueError(f"hnsw_add: ids already indexed: "
                                 f"{sorted(dup)[:5]}")
            n_old = len(old_ids)
            ids = np.concatenate([old_ids, ids])
            vecs = np.vstack([old_vecs, vecs])
        adj, _, _ = _insert_nodes(list(range(n_old, len(ids))), ids, vecs,
                                  adj, entry, max_level, m, ef_construction)
        return _shard_frame(int(npdf["shard"].iloc[0]), ids, vecs, adj)

    new_base = new_emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_shards))
         .cast("int").alias("shard"),
        as_double(F.col(vec_col)).alias("v"),
    )
    return (graph.groupBy("shard")
            .cogroup(new_base.groupBy("shard"))
            .applyInPandas(grow, _GRAPH_SCHEMA))


def hnsw_save(graph: DataFrame, path: str, *, m: int,
              ef_construction: int, n_shards: int) -> None:
    """Persist the graph partitionBy(shard) + a params manifest (the
    hnswlib save_index/load_index parity, pyw_hnswlib.py:33-45)."""
    graph.write.mode("overwrite").partitionBy("shard").parquet(path)
    with open(os.path.join(path, "_hnsw_params.json"), "w") as f:
        json.dump({"m": m, "ef_construction": ef_construction,
                   "n_shards": n_shards}, f)


def hnsw_load(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    with open(os.path.join(path, "_hnsw_params.json")) as f:
        params = json.load(f)
    return spark.read.parquet(path), params


# --------------------------------------------------------------- search

def _beam(shard: tuple, qv: np.ndarray, ef: int,
          exclude: int) -> list[tuple[int, float]]:
    """Beam-search one decoded shard (`_decode_shard`) for the ef closest
    candidates: greedy descent on the upper layers, an ef-beam on layer
    0. Returns (vec_id, -dist) pairs; final scoring happens elsewhere."""
    ids, vecs, adj, entry, max_level = shard
    dists: dict[int, float] = {}
    eps = [entry]
    for lc in range(max_level, 0, -1):
        eps = [_search_layer(qv, eps, 1, adj[lc], vecs, dists)[0][1]]
    w = _search_layer(qv, eps, ef, adj[0], vecs, dists)
    return [(int(ids[j]), -dq) for dq, j in w if int(ids[j]) != exclude]


def _unit_query(qvec) -> np.ndarray:
    """A literal query vector as float64 unit length (zero stays zero)."""
    qv = np.asarray([float(x) for x in qvec], dtype=np.float64)
    n = float(np.sqrt(qv @ qv))
    return qv / (n or 1.0)


def hnsw_knn(graph: DataFrame, emb: DataFrame, query_id: int, k: int, *,
             ef: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine neighbours of `query_id` via the per-shard graphs
    (self-hit excluded, like the reference's ranking tests,
    /root/reference/wapo/experiments/ranking.py:140). Candidates come
    from an ef-beam per shard; the returned scores are the SAME Catalyst
    cosine + round(6) as brute_force_knn. Returns (rank, vec_id, cos)."""
    res = hnsw_knn_many(graph, emb, [query_id], k, ef=ef, id_col=id_col,
                        vec_col=vec_col)
    return res.select("rank", "vec_id", "cos")


def hnsw_knn_many(graph: DataFrame, emb: DataFrame, query_ids: list[int],
                  k: int, *, ef: int = 64, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Batched HNSW search: ALL queries traverse each shard inside one
    pandas group (the query matrix rides in as a broadcast-joined
    literal-free crossJoin of a tiny DF — one job, no per-query
    round-trips), then one Catalyst re-score + per-query window ranks
    the union of shard candidates. Returns (query_id, rank, vec_id, cos).

    Scale shape: shards process queries independently (narrow after the
    graph scan), the re-score joins candidates (|q| x shards x ef rows)
    back to the vector table on vec_id — a broadcast-able right side at
    realistic q batch sizes."""
    spark = graph.sparkSession
    qids = [int(q) for q in query_ids]
    qrows = (emb.filter(F.col(id_col).cast("long").isin(qids))
                .select(F.col(id_col).cast("long").alias("query_id"),
                        as_double(F.col(vec_col)).alias("qv"))
                .collect())
    if not qrows:
        return spark.createDataFrame(
            [], "query_id long, rank long, vec_id long, cos double")
    qmat = {int(r["query_id"]): _unit_query(r["qv"]) for r in qrows}
    bq = spark.sparkContext.broadcast(
        {q: v.tolist() for q, v in qmat.items()})
    ef_eff = max(int(ef), int(k))

    def probe(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = {q: np.asarray(v, dtype=np.float64)
              for q, v in bq.value.items()}
        shard = _decode_shard(pdf)
        out_q, out_id = [], []
        for qid, qv in sorted(qs.items()):
            for vid, _ in _beam(shard, qv, ef_eff, qid):
                out_q.append(qid)
                out_id.append(vid)
        return pd.DataFrame({"query_id": out_q, "vec_id": out_id})

    cands = (graph.groupBy("shard").applyInPandas(
                 probe, "query_id long, vec_id long")
             .distinct())
    qdf = spark.createDataFrame(
        [(q, v.tolist()) for q, v in sorted(qmat.items())],
        "query_id long, qv array<double>")
    scored = (cands.join(F.broadcast(qdf), "query_id")
              .join(emb.select(F.col(id_col).cast("long").alias("vec_id"),
                               as_double(F.col(vec_col)).alias("v")),
                    "vec_id")
              .select("query_id", "vec_id",
                      F.round(cosine(F.col("v"), F.col("qv")), 6)
                       .alias("cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank",
                              (F.row_number().over(w) - 1).cast("long"))
            .filter(F.col("rank") < k)
            .select("query_id", "rank", "vec_id", "cos"))


def hnsw_candidates(graph: DataFrame, qvec, *, ef: int = 64,
                    exclude: int = -1) -> DataFrame:
    """Beam candidates for ONE literal query vector: (vec_id) distinct,
    every shard probed with an ef-deep beam — the ES approximate-knn
    `num_candidates` stage (per-shard beam width, exactly ES's contract:
    bigger ef = higher recall, more scanned). Scores are NOT returned:
    the caller re-scores the candidate set exactly in Catalyst (the
    same contract as hnsw_knn_many, so ANN-vs-exact differences are
    recall-only, never score drift). The distributed form of
    `driver_candidates`."""
    spark = graph.sparkSession
    bq = spark.sparkContext.broadcast(_unit_query(qvec).tolist())
    ef = int(ef)

    def probe(pdf: pd.DataFrame) -> pd.DataFrame:
        qu = np.asarray(bq.value, dtype=np.float64)
        return pd.DataFrame(
            {"vec_id": [vid for vid, _
                        in _beam(_decode_shard(pdf), qu, ef,
                                 int(exclude))]})

    return (graph.groupBy("shard").applyInPandas(probe, "vec_id long")
            .distinct())


class DriverGraph(NamedTuple):
    """A graph frame decoded on the driver: one `_decode_shard` tuple per
    shard (shard order) and the frame's rows x dim."""
    shards: tuple
    elems: int


_GRAPHS = DriverMemo()


def _decode_graph(graph: DataFrame) -> DriverGraph:
    pdf = graph.select("shard", "vec_id", "level", "nbrs", "uv").toPandas()
    n, dim = len(pdf), max((len(u) for u in pdf["uv"] if u is not None),
                           default=0)
    return DriverGraph(tuple(_decode_shard(g) for _, g
                             in pdf.groupby("shard", sort=True)),
                       n * max(1, dim))


def driver_graph(graph: DataFrame) -> DriverGraph | None:
    """The driver-resident decode of a cache-served graph frame (decoded
    once, under the DriverMemo rules: served from Spark's cache, rows x
    dim <= DRIVER_ELEMS_CAP proven first), or None when it stays
    distributed."""
    return _GRAPHS.get(graph, "graph", "uv", lambda: _decode_graph(graph))


def driver_candidates(dg: DriverGraph, qvec, *, ef: int,
                      exclude: int = -1) -> np.ndarray:
    """hnsw_candidates on a decoded graph: the union of the SAME per-shard
    ef-beams, as ascending unique vec_ids. No Spark job."""
    qu = _unit_query(qvec)
    got = [vid for shard in dg.shards
           for vid, _ in _beam(shard, qu, int(ef), int(exclude))]
    return np.unique(np.asarray(got, dtype=np.int64))
