"""Similarity search over embedding columns (array<float>).

The reference delegates vector KNN to an embedded hnswlib HNSW index
(/root/reference/vector_storage.py:43-56, pyw_hnswlib.py:61-69, cosine
space). Spark-native equivalents:

- brute-force cosine top-k: exact baseline. Fully Catalyst (zip_with +
  aggregate fold for the dot product — JVM-side, no Python). One scan,
  one TakeOrderedAndProject. The right answer until the corpus outgrows a
  full scan.
- IVF-Flat: the scale path. Vectors are assigned to the nearest of C
  centroids at build; a query probes the nprobe nearest cells and scans
  only those. Here centroids are a deterministic subset of the data
  (vec_id < C) so the DuckDB oracle can replicate the exact partition;
  swap in k-means centroids in production (assignment op is identical).

At 100 TB: the assignment is a broadcast join (C centroids) + argmax —
one map-side pass; cell-pruned search reads only matching partitions if
the table is written partitionBy(cell).
"""

from __future__ import annotations

import threading
import weakref
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i — sequential left fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_knn(emb: DataFrame, query_id: int, k: int,
                    *, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k neighbours of the vector with id `query_id`
    (self-hit excluded — reference drops res_id == query_id,
    ranking.py:140). Returns (rank, vec_id, cos)."""
    q = emb.filter(F.col(id_col) == query_id).select(
        as_double(F.col(vec_col)).alias("qvec")
    )
    scored = (
        emb.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine(as_double(F.col(vec_col)), F.col("qvec")), 6).alias("cos"),
        )
    )
    topk = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return topk.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("rank"), "vec_id", "cos"
    )


def derive_n_cells(n_vectors: int) -> int:
    """Corpus-scaled cell count: the classic IVF heuristic ~sqrt(N)
    (cells ~ probe cost balance point). 10^12 vectors -> ~10^6 cells."""
    import math

    return max(1, int(round(math.sqrt(max(0, n_vectors)))))


#: below this many total ELEMENTS (rows x dim — 2^22 float64 = 32 MB,
#: bounded driver memory at ANY dimension; a rows-only cap would gather
#: multi-GB pandas frames at dim=768, VERDICT r4) the iterative paths
#: (k-means, IVF query) run on the driver in numpy: in local/driver
#: terms a Lloyd iteration costs one vectorized pass instead of a Spark
#: job. The numerical contract is preserved exactly — dot products and
#: norms are sequential-order folds (bit-identical to the Catalyst
#: `aggregate` fold), rounding is decimal HALF_UP like F.round — so both
#: routes produce identical rows (pytest + the hash-checked gates
#: verify). Above the cap the distributed plans run unchanged.
DRIVER_ELEMS_CAP = 1 << 22


def _n_and_dim(emb: DataFrame, vec_col: str) -> tuple[int, int]:
    """(row count, vector dim) in ONE aggregation job — the inputs of the
    element-based driver-route guard. dim = max(size) so a ragged column
    can only over-count elements (erring toward the distributed route,
    which is always safe)."""
    row = emb.agg(F.count(F.lit(1)).alias("n"),
                  F.max(F.size(F.col(vec_col))).alias("d")).first()
    return int(row["n"]), int(row["d"] or 0)


def _cache_served(df: DataFrame) -> bool:
    """True when Spark serves `df` from its cache: every leaf of the plan,
    after cache substitution, is an InMemoryRelation or a LocalRelation
    (the frame's rows are a fixed snapshot, like a warm SegmentIndex).
    A list-built frame (LogicalRDD) or a file scan (LogicalRelation) is
    not. Costs a few py4j calls, so callers check it once per frame."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return all(leaves.apply(i).nodeName() in ("InMemoryRelation",
                                              "LocalRelation")
               for i in range(leaves.size()))


class DriverMemo:
    """First-touch driver decodes of cache-served frames, keyed weakly by
    the caller's DataFrame object (a dropped frame frees its entry).

    `get` decodes a frame at most once per key: it proves the frame is
    served from Spark's cache and holds rows x dim <= DRIVER_ELEMS_CAP
    (one `_n_and_dim` job) before the gather, under a lock with a
    double-checked lookup, and publishes one immutable object per frame
    (a fresh dict; entries are never mutated). A refused frame is
    remembered as None so it never pays the checks again. Decoded
    objects carry `elems`, re-checked against the current cap per call."""

    def __init__(self):
        self._memo: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        self._lock = threading.Lock()

    def get(self, df: DataFrame, key, vec_col: str, decode):
        got = self._memo.get(df, {}).get(key, self)
        if got is self:
            with self._lock:
                per = self._memo.get(df, {})
                got = per.get(key, self)
                if got is self:
                    got = None
                    if _cache_served(df):
                        n, dim = _n_and_dim(df, vec_col)
                        if n * max(1, dim) <= DRIVER_ELEMS_CAP:
                            got = decode()
                    self._memo[df] = {**per, key: got}
        if got is None or got.elems > DRIVER_ELEMS_CAP:
            return None
        return got


class DriverVectors(NamedTuple):
    """A vectors frame decoded on the driver: ids ascending (unique), the
    float64 matrix V in id order, its `_fold_norm` row norms (all > 0),
    the uniform dim and rows x dim."""
    ids: "np.ndarray"
    V: "np.ndarray"
    norms: "np.ndarray"
    dim: int
    elems: int


_VECTORS = DriverMemo()


def _decode_vectors(df: DataFrame, id_col: str,
                    vec_col: str) -> DriverVectors | None:
    """Gather (id, vector) to the driver; None unless ids are non-null and
    unique and every vector is non-null, finite, non-zero and of one
    length (the frames the driver knn path mirrors exactly; the rest stay
    distributed)."""
    import numpy as np

    pdf = df.select(F.col(id_col).cast("bigint").alias("id"),
                    as_double(F.col(vec_col)).alias("v")).toPandas()
    vs = pdf["v"].tolist()
    if (not len(vs) or pdf["id"].isna().any()
            or any(v is None for v in vs)
            or len({len(v) for v in vs}) != 1):
        return None
    ids = pdf["id"].to_numpy(np.int64)
    if np.unique(ids).size != ids.size:
        return None
    order = np.argsort(ids, kind="stable")
    V = np.array(vs, dtype=np.float64)[order]
    norms = _fold_norm(V)
    if not V.shape[1] or not norms.all() or not np.isfinite(V).all():
        return None
    return DriverVectors(ids[order], V, norms, int(V.shape[1]),
                         int(V.size))


def driver_vectors(df: DataFrame, id_col: str,
                   vec_col: str) -> DriverVectors | None:
    """The driver-resident decode of a cache-served vectors frame, or
    None when the frame stays distributed (see DriverMemo)."""
    return _VECTORS.get(df, (id_col, vec_col), vec_col,
                        lambda: _decode_vectors(df, id_col, vec_col))


def _round_half_up(arr, nd: int):
    """Elementwise decimal HALF_UP rounding, matching Spark's
    F.round(col, nd) on doubles (BigDecimal of the shortest repr)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    q = Decimal(1).scaleb(-nd)
    flat = arr.ravel().tolist()
    out = np.empty(len(flat))
    for i, x in enumerate(flat):
        out[i] = float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))
    return out.reshape(arr.shape)


def _fold_dot(A, B):
    """(N,d) x (M,d) -> (N,M) dot products accumulated dim-by-dim in
    sequential order — bit-identical per element to the Catalyst
    `aggregate(zip_with(a,b,*), 0.0, +)` left fold."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc += A[:, d:d + 1] * B[None, :, d]
    return acc


def _fold_norm(A):
    """Row norms via the same sequential fold as `norm` (squares first,
    then left-fold adds, then sqrt)."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for d in range(A.shape[1]):
        acc += A[:, d] * A[:, d]
    return np.sqrt(acc)


def _assign_local(U, C, cells):
    """Rounded-9dp argmax-cosine assignment, ties -> lowest cell (cells
    ascending). Mirrors _cent_score_array: denominator is
    norm(row) * python-fold centroid norm, grouped before the divide."""
    nv = _fold_norm(U)
    cn = _fold_norm(C)
    R = _round_half_up(_fold_dot(U, C) / (nv[:, None] * cn[None, :]), 9)
    return cells[R.argmax(axis=1)]  # first max = lowest cell


def _kmeans_centroids_local(ids, V, n_cells: int, n_iters: int):
    """Driver-side seeded spherical k-means, iteration-identical to the
    distributed path: unit vectors by the same fold+divide, 9dp argmax
    assignment, per-cell member mean rounded 12dp (the cross-engine
    state contract — summation order differs between engines by design
    and the 12dp rounding absorbs it), empty cells keep their previous
    centroid. ids must be ascending.

    Parity status (ADVICE r4): the driver/distributed row identity is a
    TESTED contract, not a proven one — this sequential member fold and
    Spark-ML Summarizer's online mean are different float64 summation
    orders, and a per-cell mean landing within float error of a 12dp
    HALF_UP boundary could in principle round differently on the two
    routes. No such case exists in the pinned corpora; the cross-route
    parity pytest (test_kmeans_ivf_driver_route_equals_distributed) is
    the tripwire that would catch one."""
    import numpy as np

    nrm = _fold_norm(V)
    U = V / nrm[:, None]
    seed = ids < n_cells
    cells = ids[seed]
    C = U[seed].copy()
    for _ in range(n_iters):
        assign = _assign_local(U, C, cells)
        newC = C.copy()
        for j, c in enumerate(cells):
            members = U[assign == c]
            if len(members):
                acc = np.zeros(U.shape[1])
                for m in members:       # sequential member fold
                    acc = acc + m
                newC[j] = _round_half_up(acc / len(members), 12)
        C = newC
    return cells, C


def kmeans_centroids(emb: DataFrame, n_cells: int, n_iters: int = 3,
                     *, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Deterministic spherical k-means centroids: (cell bigint,
    cvec array<double>).

    Seeded Lloyd iterations, fully reproducible on both engines (the
    DuckDB oracle unrolls the identical iterations in SQL):
      init      centroids = unit vectors of the n_cells lowest vec_ids
      assign    argmax cosine, rounded 9dp, ties -> lowest cell
      update    per-dimension MEAN of the assigned UNIT vectors
                (spherical k-means; cosine is scale-invariant so the mean
                need not be renormalized), components rounded 12dp so the
                iteration STATE is bit-comparable across engines (not just
                the assignments — distributed summation order must not
                leak into the next iteration); empty cells keep their
                previous centroid
    Each iteration is one distributed assign + one aggregation; the tiny
    (n_cells x dim) centroid table is collected and re-broadcast per
    iteration — exactly the production shape at 10^12 vectors, where
    centroids are the only driver-sized state.

    The mean is computed ARRAY-WISE with Spark-ML Summarizer (one
    incremental vector aggregation per cell) — never by exploding vectors
    to (cell, dim) rows, which at dim=768 would multiply the shuffle by
    768x per iteration.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    spark = emb.sparkSession
    n_vec, dim = _n_and_dim(emb, vec_col)
    if n_vec * max(1, dim) <= DRIVER_ELEMS_CAP:
        import numpy as np

        pdf = emb.select(F.col(id_col).alias("vec_id"),
                         as_double(F.col(vec_col)).alias("v")).toPandas()
        ids = pdf["vec_id"].to_numpy(np.int64)
        order = np.argsort(ids)
        V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        cells, C = _kmeans_centroids_local(ids[order], V, n_cells, n_iters)
        return spark.createDataFrame(
            [(int(c), [float(x) for x in cv]) for c, cv in zip(cells, C)],
            "cell bigint, cvec array<double>",
        )
    uv_df = (
        emb.select(F.col(id_col).alias("vec_id"),
                   as_double(F.col(vec_col)).alias("v"))
        .withColumn("nrm", norm(F.col("v")))
        .select("vec_id",
                F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("uv"))
        .persist()
    )
    cent_rows = _collect_cent_rows(
        uv_df.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cell"), F.col("uv").alias("cvec")
        )
    )
    for _ in range(n_iters):
        # Assignment is a pure PROJECTION (literal centroids — they were
        # collected last round anyway), so each Lloyd iteration is ONE
        # job: narrow argmax map -> groupBy(cell) vector mean (n_cells
        # groups, map-side partial). No crossJoin rows, no per-vector
        # window sort, no self-join. Past the literal-size guard
        # (cells x dim), the broadcast-join argmax + a vec_id join takes
        # over — same results, one extra shuffle.
        if _literal_ok(cent_rows):
            assigned = (
                uv_df.withColumn("nv", norm(F.col("uv")))
                .select(
                    F.array_max(
                        _cent_score_array(F.col("uv"), F.col("nv"), cent_rows)
                    )["cell"].alias("cell"),
                    "uv",
                )
            )
        else:
            cents_df = spark.createDataFrame(
                cent_rows, "cell bigint, cvec array<double>"
            )
            a = _argmax_cell(
                uv_df.select("vec_id", F.col("uv").alias("v")), cents_df
            )
            assigned = uv_df.join(a, "vec_id").select("cell", "uv")
        mean_rows = (
            assigned.groupBy("cell")
            .agg(vector_to_array(
                Summarizer.mean(array_to_vector(F.col("uv")))
            ).alias("nv_raw"))
            .select("cell",
                    F.transform(F.col("nv_raw"),
                                lambda x: F.round(x, 12)).alias("nv"))
            .collect()
        )
        means = {int(r["cell"]): [float(x) for x in r["nv"]]
                 for r in mean_rows}
        # empty cells keep their previous centroid (driver-side merge —
        # the n_cells x dim state is the only driver-sized object)
        cent_rows = [(c, means.get(c, cv)) for c, cv in cent_rows]
    uv_df.unpersist()
    return spark.createDataFrame(
        [(c, cv) for c, cv in cent_rows], "cell bigint, cvec array<double>"
    )


#: below this many cells, centroids are collected driver-side and the
#: assignment runs as a literal-array projection (no join, no shuffle);
#: above it (derive_n_cells gives ~10^6 at 10^12 vectors) the broadcast
#: join + map-side max_by aggregation path takes over.
LITERAL_CELL_CAP = 4096
#: total-element guard on the literal route: cells x dim beyond this
#: would bloat the parsed expression (4096 cells at dim 768 would be a
#: ~60 MB SQL literal) — such centroid sets route to the broadcast-join
#: path even when the cell count alone is under the cap.
LITERAL_ELEMS_CAP = 1 << 18


def _literal_ok(cent_rows: list) -> bool:
    return bool(cent_rows) and \
        len(cent_rows) * len(cent_rows[0][1]) <= LITERAL_ELEMS_CAP


def _collect_cent_rows(cents: DataFrame) -> list:
    return [(int(r["cell"]), [float(x) for x in r["cvec"]])
            for r in cents.collect()]


def _cent_score_array(v: Column, nv: Column, cent_rows: list) -> Column:
    """array<struct(ccos, negc, cell)> of the vector's 9dp-rounded cosine
    against every literal centroid. Struct field order makes array_max /
    array_sort rank by (score desc, cell asc): ties -> lowest cell, the
    same contract as the join path and the DuckDB oracle. The centroid
    norms are precomputed in Python float64 with the same left-to-right
    summation as the `norm` fold, so scores are bit-identical to
    cosine(v, cvec). All constants enter the plan as THREE array
    Literals (matrix, norms, ids) walked by an indexed transform — never
    one expression node per element, which makes Catalyst analysis cost
    O(cells x dim)."""
    import math

    norms, cells, mat = [], [], []
    for cell, cv in cent_rows:
        s = 0.0
        for x in cv:
            s += x * x
        norms.append(math.sqrt(s))
        cells.append(int(cell))
        mat.append([float(x) for x in cv])
    # constants enter through ONE parsed SQL expression each: building
    # them with per-element F.lit costs a Py4J round-trip per value
    # (seconds per k-means iteration at 16x64); repr() round-trips
    # float64 exactly and Spark's `...D` literal parses it back
    # bit-identically
    mat_l = F.expr("array(" + ",".join(
        "array(" + ",".join(f"{x!r}D" for x in row) + ")" for row in mat
    ) + ")")
    norms_l = F.expr("array(" + ",".join(f"{x!r}D" for x in norms) + ")")
    cells_l = F.expr("array(" + ",".join(f"{c}L" for c in cells) + ")")
    return F.transform(
        mat_l,
        lambda cv, i: F.struct(
            F.round(
                dot(v, cv) / (nv * F.element_at(norms_l, i + 1)), 9
            ).alias("ccos"),
            (-F.element_at(cells_l, i + 1)).cast("bigint").alias("negc"),
            F.element_at(cells_l, i + 1).cast("bigint").alias("cell"),
        ),
    )


def _argmax_cell(vecs: DataFrame, cents: DataFrame | None,
                 n_probe: int = 1, cent_rows: list | None = None) -> DataFrame:
    """(vec_id, v) x (cell, cvec) -> (vec_id, cell): the n_probe
    max-cosine cells per vector (one row each), cosine rounded 9dp so
    cross-engine float noise cannot flip the argmax, ties -> lowest
    cell.

    cent_rows (driver-local centroids) selects the shuffle-free literal
    projection; a cents DataFrame selects the broadcast-join path whose
    argmax is a map-side-partial max_by aggregation (n_probe == 1) or a
    per-vector window (n_probe > 1, the small-centroid regime only)."""
    if cent_rows is not None:
        if not cent_rows:
            return vecs.select(
                "vec_id", F.lit(None).cast("bigint").alias("cell")
            ).limit(0)
        withnv = vecs.withColumn("nv", norm(F.col("v")))
        scored = _cent_score_array(F.col("v"), F.col("nv"), cent_rows)
        if n_probe == 1:
            return withnv.select(
                "vec_id", F.array_max(scored)["cell"].alias("cell")
            )
        # array_sort ascends by (ccos, negc); reversed -> score desc with
        # ties -> lowest cell first
        picked = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
        return withnv.select(
            "vec_id",
            F.explode(F.transform(picked, lambda s: s["cell"])).alias("cell"),
        )
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell",
        F.round(cosine(F.col("v"), F.col("cvec")), 9).alias("ccos"),
    )
    if n_probe == 1:
        return scored.groupBy("vec_id").agg(
            F.max_by(
                "cell", F.struct(F.col("ccos"), (-F.col("cell")).alias("negc"))
            ).alias("cell")
        )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("vec_id", "cell")
    )


def ivf_assign_topn(emb: DataFrame, n_cells: int | None, n_probe: int, *,
                    centroids: DataFrame | None = None,
                    kmeans_iters: int = 0,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Multi-probe assignment: every vector assigned to its n_probe
    nearest centroids (one (vec_id, cell) row per probe). Candidate-
    generation form for near-dup detection — vectors straddling a cell
    boundary share their 2nd-nearest cell, recovering the pairs a
    single-cell bucketing misses (bounded cost: candidate volume scales
    ~n_probe^2 per colliding pair, not with the corpus)."""
    if n_cells is None:
        n_cells = derive_n_cells(emb.count())
    if centroids is None:
        if kmeans_iters > 0:
            centroids = kmeans_centroids(emb, n_cells, kmeans_iters,
                                         id_col=id_col, vec_col=vec_col)
        else:
            centroids = emb.filter(F.col(id_col) < n_cells).select(
                F.col(id_col).alias("cell"),
                as_double(F.col(vec_col)).alias("cvec"),
            )
    vecs = emb.select(F.col(id_col).alias("vec_id"),
                      as_double(F.col(vec_col)).alias("v"))
    if n_cells <= LITERAL_CELL_CAP:
        rows = _collect_cent_rows(centroids)
        if _literal_ok(rows):
            return _argmax_cell(vecs, None, n_probe=n_probe, cent_rows=rows)
    return _argmax_cell(vecs, centroids, n_probe=n_probe)


def ivf_assign(emb: DataFrame, n_cells: int | None, *,
               centroids: DataFrame | None = None,
               kmeans_iters: int = 0,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its max-cosine centroid. Returns
    (vec_id, cell).

    centroids: (cell, cvec) table; if None, uses seeded k-means
    (kmeans_iters > 0) or the raw low-id seed vectors (kmeans_iters == 0,
    the degenerate init). n_cells=None derives ~sqrt(N) from the corpus.
    """
    if n_cells is None:
        n_cells = derive_n_cells(emb.count())
    if centroids is None:
        if kmeans_iters > 0:
            centroids = kmeans_centroids(emb, n_cells, kmeans_iters,
                                         id_col=id_col, vec_col=vec_col)
        else:
            centroids = emb.filter(F.col(id_col) < n_cells).select(
                F.col(id_col).alias("cell"),
                as_double(F.col(vec_col)).alias("cvec"),
            )
    vecs = emb.select(F.col(id_col).alias("vec_id"),
                      as_double(F.col(vec_col)).alias("v"))
    if n_cells <= LITERAL_CELL_CAP:
        rows = _collect_cent_rows(centroids)
        if _literal_ok(rows):
            return _argmax_cell(vecs, None, cent_rows=rows)
    return _argmax_cell(vecs, centroids)


def ivf_save(emb: DataFrame, index_dir: str, *, n_cells: int | None = 16,
             kmeans_iters: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding") -> None:
    """Persist an IVF index: vectors partitioned by cell + a centroids table
    (the reference's save_index/load_index, pyw_hnswlib.py:48-56 /
    vector_storage.py:24-30, as a build-once-query-many on-disk layout).
    partitionBy(cell) makes probe queries partition-pruned scans.
    Centroids come from seeded k-means (kmeans_iters Lloyd rounds);
    n_cells=None derives ~sqrt(N) from the corpus size."""
    if n_cells is None:
        n_cells = derive_n_cells(emb.count())
    cents = kmeans_centroids(emb, n_cells, kmeans_iters,
                             id_col=id_col, vec_col=vec_col) \
        if kmeans_iters > 0 else None
    assign = ivf_assign(emb, n_cells, centroids=cents,
                        id_col=id_col, vec_col=vec_col)
    vecs = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("embedding"))
    (
        vecs.join(assign, "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(f"{index_dir}/cells")
    )
    if cents is None:
        cents = emb.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell"),
            as_double(F.col(vec_col)).alias("cvec"),
        )
    (
        cents.select("cell", F.col("cvec").alias("centroid"))
        .write.mode("overwrite").parquet(f"{index_dir}/centroids")
    )


def ivf_load_knn(spark, index_dir: str, query_vec: list[float], k: int,
                 *, nprobe: int = 2) -> DataFrame:
    """Query a persisted IVF index: rank centroids, scan ONLY the nprobe
    matching cell partitions (directory pruning), exact cosine within."""
    q = F.lit([float(x) for x in query_vec]).cast("array<double>")
    cents = spark.read.parquet(f"{index_dir}/centroids")
    probe = [
        r["cell"]
        for r in cents.select(
            "cell", cosine(as_double(F.col("centroid")), q).alias("c")
        ).orderBy(F.desc("c"), F.asc("cell")).limit(nprobe).collect()
    ]
    cells = spark.read.parquet(f"{index_dir}/cells").filter(
        F.col("cell").isin(probe)
    )
    scored = cells.select(
        "vec_id",
        F.round(cosine(as_double(F.col("embedding")), q), 6).alias("cos"),
    )
    topk = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return topk.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("rank"), "vec_id", "cos"
    )


def ivf_knn(emb: DataFrame, query_id: int, k: int, *, n_cells: int | None = 16,
            nprobe: int = 2, kmeans_iters: int = 0,
            centroids: DataFrame | None = None, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """IVF-Flat: probe the nprobe cells whose centroids are nearest the
    query, exact cosine within them. Returns (rank, vec_id, cos) —
    approximate overall (recall < 1 vs brute force), exact within cells.
    kmeans_iters > 0 uses seeded-k-means centroids (the real quality
    path); 0 keeps the degenerate low-id seed centroids.

    Under DRIVER_ELEMS_CAP total vector elements (rows x dim) the whole
    query (centroids, assignment, probe, scoring) runs driver-side in
    numpy with the same sequential folds and HALF_UP rounding — identical
    rows (pytest + hash gates), one gather job instead of one per stage."""
    n_vec, dim = _n_and_dim(emb, vec_col)
    if n_cells is None:
        n_cells = derive_n_cells(n_vec)
    if n_vec * max(1, dim) <= DRIVER_ELEMS_CAP:
        return _ivf_knn_local(emb, query_id, k, n_cells=n_cells,
                              nprobe=nprobe, kmeans_iters=kmeans_iters,
                              centroids=centroids, id_col=id_col,
                              vec_col=vec_col)
    cents = centroids
    if cents is None:
        if kmeans_iters > 0:
            cents = kmeans_centroids(emb, n_cells, kmeans_iters,
                                     id_col=id_col, vec_col=vec_col)
        else:
            cents = emb.filter(F.col(id_col) < n_cells).select(
                F.col(id_col).alias("cell"),
                as_double(F.col(vec_col)).alias("cvec"),
            )
    assign = ivf_assign(emb, n_cells, centroids=cents,
                        id_col=id_col, vec_col=vec_col)
    q = emb.filter(F.col(id_col) == query_id).select(
        as_double(F.col(vec_col)).alias("qvec")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cell", F.round(cosine(F.col("cvec"), F.col("qvec")), 9).alias("ccos"))
        .orderBy(F.desc("ccos"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    cand = (
        assign.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != query_id)
        .select(F.col("vec_id").alias("cand_id"))
    )
    scored = (
        emb.join(cand, F.col(id_col) == F.col("cand_id"))
        .crossJoin(F.broadcast(q))
        .select(
            F.col("cand_id").alias("vec_id"),
            F.round(cosine(as_double(F.col(vec_col)), F.col("qvec")), 6).alias("cos"),
        )
    )
    topk = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return topk.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("rank"), "vec_id", "cos"
    )


def _ivf_knn_local(emb: DataFrame, query_id: int, k: int, *, n_cells: int,
                   nprobe: int, kmeans_iters: int,
                   centroids: DataFrame | None,
                   id_col: str, vec_col: str) -> DataFrame:
    """Driver regime of ivf_knn (rows x dim <= DRIVER_ELEMS_CAP): one gather,
    then numpy with the exact numerical contract of the distributed plan
    — sequential-fold dots/norms, HALF_UP rounding (9dp probe/assign,
    6dp scores), ties lowest cell / lowest vec_id."""
    import numpy as np

    spark = emb.sparkSession
    empty = spark.createDataFrame([], "rank bigint, vec_id bigint, cos double")
    pdf = emb.select(F.col(id_col).alias("vec_id"),
                     as_double(F.col(vec_col)).alias("v")).toPandas()
    if not len(pdf):
        return empty
    ids = pdf["vec_id"].to_numpy(np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
    if centroids is not None:
        rows = sorted((int(r["cell"]), [float(x) for x in r["cvec"]])
                      for r in centroids.collect())
        cells = np.array([c for c, _ in rows], dtype=np.int64)
        C = np.array([cv for _, cv in rows], dtype=np.float64)
    elif kmeans_iters > 0:
        cells, C = _kmeans_centroids_local(ids, V, n_cells, kmeans_iters)
    else:
        seed = ids < n_cells
        cells, C = ids[seed], V[seed]
    qsel = np.flatnonzero(ids == query_id)
    if not qsel.size or not len(C):
        return empty
    q = V[qsel[0]][None, :]
    qn = _fold_norm(q)[0]
    assign = _assign_local(V, C, cells)
    pc = _round_half_up(
        _fold_dot(C, q)[:, 0] / (_fold_norm(C) * qn), 9)
    probe = set(cells[np.lexsort((cells, -pc))[:nprobe]].tolist())
    mask = np.isin(assign, list(probe)) & (ids != query_id)
    if not mask.any():
        return empty
    cand_ids, cand_V = ids[mask], V[mask]
    cos = _round_half_up(
        _fold_dot(cand_V, q)[:, 0] / (_fold_norm(cand_V) * qn), 6)
    top = np.lexsort((cand_ids, -cos))[:k]
    return spark.createDataFrame(
        [(r, int(cand_ids[i]), float(cos[i])) for r, i in enumerate(top)],
        "rank bigint, vec_id bigint, cos double",
    )


def _ivf_knn_adaptive_local(emb: DataFrame, query_id: int, k: int, *,
                            n_cells: int, kmeans_iters: int,
                            centroids: DataFrame | None, batch_cells: int,
                            id_col: str, vec_col: str,
                            stats_out: dict | None) -> DataFrame:
    """Driver regime of ivf_knn_adaptive (rows x dim <= DRIVER_ELEMS_CAP):
    the SAME algorithm — per-cell angular radii, best-bound-first probing
    in batch_cells steps, 1e-6-margin stop proof — run in numpy with the
    distributed plan's exact numerical contract (sequential-fold dots and
    norms, HALF_UP 6dp probe scores, identical bound formula and pool
    truncation), so rows AND stats_out.cells_probed are identical
    (pytest-pinned); one gather job instead of one per probe batch."""
    import math

    import numpy as np

    spark = emb.sparkSession
    empty = spark.createDataFrame([], "rank bigint, vec_id bigint, cos double")
    pdf = emb.select(F.col(id_col).alias("vec_id"),
                     as_double(F.col(vec_col)).alias("v")).toPandas()
    if not len(pdf):
        return empty
    ids = pdf["vec_id"].to_numpy(np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
    if centroids is not None:
        rows = sorted((int(r["cell"]), [float(x) for x in r["cvec"]])
                      for r in centroids.collect())
        cells = np.array([c for c, _ in rows], dtype=np.int64)
        C = np.array([cv for _, cv in rows], dtype=np.float64)
    elif kmeans_iters > 0:
        cells, C = _kmeans_centroids_local(ids, V, n_cells, kmeans_iters)
    else:
        seed = ids < n_cells
        cells, C = ids[seed], V[seed]
    qsel = np.flatnonzero(ids == query_id)
    if not qsel.size or not len(C):
        return empty
    assign = _assign_local(V, C, cells)
    # per-cell angular radius: min member cosine (unrounded, fold math —
    # the distributed F.min(cosine(v, cvec)) per cell), acos clipped
    cn_fold = _fold_norm(C)
    v_fold = _fold_norm(V)
    radius: dict[int, float] = {}
    for ci, cell in enumerate(cells.tolist()):
        m = assign == cell
        if not m.any():
            continue  # empty cell: nothing to probe
        cosm = (_fold_dot(V[m], C[ci:ci + 1])[:, 0]
                / (v_fold[m] * cn_fold[ci]))
        radius[int(cell)] = math.acos(max(-1.0, min(1.0, float(cosm.min()))))
    qv = V[qsel[0]]
    qn = float(np.sqrt((qv * qv).sum()))
    bounds = []
    for ci, cell in enumerate(cells.tolist()):
        rc = radius.get(int(cell))
        if rc is None:
            continue
        cv = C[ci]
        cnn = float(np.sqrt((cv * cv).sum()))
        cq = max(-1.0, min(1.0, float(qv @ cv) / (qn * cnn)))
        t_qc = math.acos(cq)
        bounds.append((math.cos(max(0.0, t_qc - rc - 1e-9)), int(cell)))
    bounds.sort(key=lambda t: (-t[0], t[1]))
    qf = qv[None, :]
    qn_fold = _fold_norm(qf)[0]
    best: list = []
    probed = 0
    i = 0
    while i < len(bounds):
        kth = best[k - 1][0] if len(best) >= k else None
        if kth is not None and bounds[i][0] <= kth - 1e-6:
            break  # proof: no unprobed cell can reach or tie top-k
        batch = [c for _, c in bounds[i:i + batch_cells]]
        i += len(batch)
        probed += len(batch)
        m = np.isin(assign, batch) & (ids != query_id)
        if m.any():
            cosb = _round_half_up(
                _fold_dot(V[m], qf)[:, 0] / (v_fold[m] * qn_fold), 6)
            best.extend(zip(cosb.tolist(), ids[m].tolist()))
        best.sort(key=lambda t: (-t[0], t[1]))
        del best[max(k, 1) * 4:]  # same pool truncation as distributed
    out = [(rank, int(vid), float(c))
           for rank, (c, vid) in enumerate(best[:k])]
    if stats_out is not None:
        stats_out["cells_probed"] = probed
        stats_out["n_cells"] = len(bounds)
    return spark.createDataFrame(
        out, "rank bigint, vec_id bigint, cos double"
    )


def ivf_knn_adaptive(emb: DataFrame, query_id: int, k: int, *,
                     n_cells: int | None = None, kmeans_iters: int = 3,
                     centroids: DataFrame | None = None,
                     batch_cells: int = 4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     stats_out: dict | None = None) -> DataFrame:
    """EXACT IVF top-k with triangle-inequality cell pruning — the
    engine's answer to the reference's hnswlib recall/ef tradeoff
    (pyw_hnswlib.py:61-69): instead of a fixed nprobe with recall < 1,
    probe cells adaptively in bound order and STOP with a proof.

    Per cell c store its angular radius r_c = max angle between a member
    and the centroid (from one aggregation over the assignment). For a
    query q at angle t_qc from centroid c, every member x of c satisfies
    angle(q, x) >= t_qc - r_c, hence cos(q, x) <= cos(max(0, t_qc - r_c))
    — a sound upper bound. Cells are probed best-bound-first,
    batch_cells per Spark job (exact 6dp-rounded cosine inside, the same
    expression as brute_force_knn); probing stops once the next unprobed
    cell's bound falls 1e-6 below the current k-th rounded score, which
    proves no excluded vector can reach or tie into the top k. Result is
    therefore identical to brute force (hash-checked in the gate), at a
    fraction of the scanned cells when the data clusters. The bound is
    data-dependent and fail-SAFE: on near-isotropic vectors (cell radii
    ~90 deg, e.g. random embeddings) it degenerates to a full scan —
    never to lost recall.

    Scale shape: the per-cell radii and bounds are O(n_cells) driver
    state (~sqrt(N)); each probe batch is a cell-pruned scan (partition-
    pruned when the assignment is written partitionBy(cell), see
    ivf_save). stats_out (optional dict) receives cells_probed/n_cells.
    """
    import math

    import numpy as np

    n_vec, dim = _n_and_dim(emb, vec_col)
    if n_cells is None:
        n_cells = derive_n_cells(n_vec)
    if n_vec * max(1, dim) <= DRIVER_ELEMS_CAP:
        return _ivf_knn_adaptive_local(
            emb, query_id, k, n_cells=n_cells, kmeans_iters=kmeans_iters,
            centroids=centroids, batch_cells=batch_cells, id_col=id_col,
            vec_col=vec_col, stats_out=stats_out)
    cents = centroids
    if cents is None:
        if kmeans_iters > 0:
            cents = kmeans_centroids(emb, n_cells, kmeans_iters,
                                     id_col=id_col, vec_col=vec_col)
        else:
            cents = emb.filter(F.col(id_col) < n_cells).select(
                F.col(id_col).alias("cell"),
                as_double(F.col(vec_col)).alias("cvec"),
            )
    spark = emb.sparkSession
    assign = ivf_assign(emb, n_cells, centroids=cents,
                        id_col=id_col, vec_col=vec_col)
    assigned = (
        emb.select(F.col(id_col).alias("vec_id"),
                   as_double(F.col(vec_col)).alias("v"))
        .join(assign, "vec_id")
        .persist()
    )
    try:
        # per-cell angular radius from ONE aggregation (min member cosine)
        radii_rows = (
            assigned.join(F.broadcast(cents), "cell")
            .select("cell", cosine(F.col("v"), F.col("cvec")).alias("c"))
            .groupBy("cell").agg(F.min("c").alias("min_c"))
            .collect()
        )
        radius = {int(r["cell"]):
                  math.acos(max(-1.0, min(1.0, float(r["min_c"]))))
                  for r in radii_rows}
        qrows = emb.filter(F.col(id_col) == query_id).select(vec_col) \
            .collect()
        if not qrows:
            # absent query_id (or empty relation): the same typed empty
            # result ivf_knn/_ivf_knn_local return (ADVICE r4)
            return spark.createDataFrame(
                [], "rank bigint, vec_id bigint, cos double"
            )
        qv = np.array(qrows[0][0], dtype=np.float64)
        qn = float(np.sqrt((qv * qv).sum()))
        bounds = []
        for r in cents.collect():
            cv = np.array(r["cvec"], dtype=np.float64)
            cn = float(np.sqrt((cv * cv).sum()))
            cq = max(-1.0, min(1.0, float(qv @ cv) / (qn * cn)))
            t_qc = math.acos(cq)
            rc = radius.get(int(r["cell"]))
            if rc is None:
                continue  # empty cell: nothing to probe
            bounds.append(
                (math.cos(max(0.0, t_qc - rc - 1e-9)), int(r["cell"])))
        bounds.sort(key=lambda t: (-t[0], t[1]))
        best: list = []  # (cos rounded 6dp, vec_id)
        probed = 0
        i = 0
        qlit = F.lit([float(x) for x in qv]).cast("array<double>")
        while i < len(bounds):
            kth = best[k - 1][0] if len(best) >= k else None
            if kth is not None and bounds[i][0] <= kth - 1e-6:
                break  # proof: no unprobed cell can reach or tie top-k
            batch = [c for _, c in bounds[i:i + batch_cells]]
            i += len(batch)
            probed += len(batch)
            rows = (
                assigned.filter(F.col("cell").isin(batch))
                .filter(F.col("vec_id") != query_id)
                .select("vec_id",
                        F.round(cosine(F.col("v"), qlit), 6).alias("cos"))
                .collect()
            )
            best.extend((float(r["cos"]), int(r["vec_id"])) for r in rows)
            best.sort(key=lambda t: (-t[0], t[1]))
            del best[max(k, 1) * 4:]  # keep a small sorted pool
        out = [(rank, vid, c) for rank, (c, vid) in enumerate(best[:k])]
        if stats_out is not None:
            stats_out["cells_probed"] = probed
            stats_out["n_cells"] = len(bounds)
        return spark.createDataFrame(
            out, "rank bigint, vec_id bigint, cos double"
        )
    finally:
        assigned.unpersist()
