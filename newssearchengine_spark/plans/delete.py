"""Document deletes: tombstone sidecar + physical compaction.

ES/Lucene semantics (the reference's own corpus lifecycle is exactly this
workload: WAPO v2 -> v3 removed 4,179 junk docs, README.md:135-138, and
missing docs are re-added via single-doc upserts, wapo/index_es.py:187-192
— the upsert half lives in plans.merge):

- ``delete_docs`` marks docs deleted by appending their ids to a
  ``tombstones/`` parquet sidecar next to the index — O(deletes), the
  index itself is untouched. Deleted docs stop appearing in ANY ranked
  query immediately, but corpus statistics (N, avgdl, per-term df) keep
  counting them until compaction — precisely Lucene's behavior, where
  deleted docs still affect scores until segments merge /
  expungeDeletes. Query-time exclusion is EXACT and
  cheap: a ranked query for top-k over-fetches top-(k + T) (T = live
  tombstone count; at most T dead docs can precede the k-th live hit —
  a proven bound), drops dead ids, and re-ranks. At T = 0 the wrapper
  short-circuits to the unwrapped plan. ``dead_ids`` is the one driver
  read of the sidecar (delete counts, compaction, SegmentIndex).

- ``compact_index`` physically expunges tombstones into a new index dir:
  each (bucket, doc_part, term) chunk drops its dead postings and
  re-encodes under the NEW avgdl (the ``_make_rewriter`` closure: a
  whole batch of chunks decoded at once, one np.isin against the dead
  ids, every surviving chunk re-encoded to the bytes a fresh build
  writes), term_stats re-aggregate from the rewritten segments, and the
  doc store / term vectors drop the dead set. The output is identical
  (rank AND score) to a from-scratch build over the live corpus —
  pytest-pinned in tests/test_delete.py. Two placements of the same closure
  (index_build.write_on_driver): when the input's n_docs and
  total_tokens (stats.json, scaled by positions and term vectors) prove
  the volume fits SEARCH_DRIVER_CAP and the dead ids fit the driver
  read, it runs on the driver over pyarrow reads and writes each table
  to a hidden temp directory renamed into place (index_build.write_table)
  — no Spark job. Above it, the Spark plan: chunk rows join their
  doc-part's dead list (broadcast when small, a plain shuffle join at
  scale) and rewrite in a mapInPandas with NO shuffle, since a chunk is
  a self-contained row.
"""

from __future__ import annotations

import json
import os
import time
import uuid
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index_build import (SEGMENT_ARROW, SEGMENT_SCHEMA, TERM_VECTORS_ARROW,
                          TERM_VECTORS_SCHEMA, _atomic_write_json,
                          _manifest_path, bucket_expr, frame_table,
                          read_frame, segment_postings, segment_rows,
                          write_on_driver, write_segments, write_table)

TOMBSTONE_DIR = "tombstones"

# Above this many dead ids per doc_part list the compaction join stops
# broadcasting (collect_list arrays on the build side get large) and
# runs as a plain shuffle join on doc_part instead.
BROADCAST_DEAD_CAP = 1 << 20


def tombstone_dir(index_dir: str) -> str:
    return os.path.join(index_dir, TOMBSTONE_DIR)


def tombstone_listing(index_dir: str) -> tuple:
    """(name, bytes) of the sidecar's parquet files, sorted: the identity
    a memo of the dead set keys on (a new delete changes it)."""
    try:
        return tuple(sorted(
            (e.name, e.stat().st_size)
            for e in os.scandir(tombstone_dir(index_dir))
            if e.name.endswith(".parquet")))
    except FileNotFoundError:
        return ()


def dead_ids(index_dir: str, listing: tuple | None = None):
    """Sorted distinct int64 ids of the tombstone sidecar, read on the
    driver with pyarrow (empty when nothing was deleted), or None when
    the sidecar's parquet files (`listing`, read when not given) exceed
    plans.search.DELETED_DRIVER_BYTES_CAP — the caller then keeps the
    dead set as a distributed relation."""
    from .search import DELETED_DRIVER_BYTES_CAP

    if listing is None:
        listing = tombstone_listing(index_dir)
    if not listing:
        return np.empty(0, dtype=np.int64)
    if sum(size for _, size in listing) > DELETED_DRIVER_BYTES_CAP:
        return None
    tbl = pq.read_table(tombstone_dir(index_dir), columns=["doc_id"])
    return np.unique(tbl["doc_id"].to_numpy(zero_copy_only=False)
                     .astype(np.int64))


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """Mark docs deleted (es.delete / delete_by_query analog).

    ``doc_ids``: a python iterable of ids (the es.delete-by-id shape) or
    a DataFrame with a ``doc_id`` column (the delete_by_query shape —
    e.g. the ids of a ranked query's hits, or a metadata predicate over
    the doc store). Appends one parquet file to ``tombstones/``
    atomically (write-then-rename for the driver-side path; Spark's
    committer for the DataFrame path). Idempotent: re-deleting an id or
    deleting an id the index never held is harmless.

    Returns the number of DISTINCT live tombstones after the append,
    counted by dead_ids (no Spark job) unless the sidecar exceeds the
    driver read.
    """
    tdir = tombstone_dir(index_dir)
    os.makedirs(tdir, exist_ok=True)
    if isinstance(doc_ids, DataFrame):
        (doc_ids.select(F.col("doc_id").cast("bigint"))
                .write.mode("append").parquet(tdir))
    else:
        ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        tbl = pa.table({"doc_id": pa.array(ids, type=pa.int64())})
        tmp = os.path.join(tdir, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(tdir, f"del-{uuid.uuid4().hex}.parquet"))
    dead = dead_ids(index_dir)
    if dead is not None:
        return int(dead.size)
    return int(
        spark.read.parquet(tdir).select("doc_id").distinct().count()
    )


def delete_by_query(si, body: dict, *, max_docs: int | None = None) -> int:
    """ES _delete_by_query: evaluate the body through the DSL adapter and
    tombstone every matching doc. Lookup bodies (term / terms / ids /
    range) delete their full match set; ranked bodies delete the top
    `max_docs` hits (required there — a ranked query needs a size).
    Returns the number of distinct live tombstones afterwards."""
    from .dsl import es_search

    out = es_search(si, body, size=max_docs or 10)
    if "rank" in out.columns and max_docs is None:
        raise ValueError("ranked delete_by_query needs max_docs")
    return delete_docs(si.spark, si.index_dir, out.select("doc_id"))


def _dead_relation(spark: SparkSession, index_dir: str) -> DataFrame | None:
    if not tombstone_listing(index_dir):
        return None
    return spark.read.parquet(tombstone_dir(index_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id")).distinct()


def _make_rewriter(stats: dict, avgdl: float):
    """Compaction's chunk rewrite, for mapInPandas over segment rows
    joined with their doc_part's `dead_ids` (None when the part lost
    nothing) — or called on the driver with [segment frame] and the
    whole dead set. Per batch: decode every chunk at once, drop the
    postings of one np.isin against the dead ids (positions with them),
    and re-encode what is left under the new avgdl (segment_rows) —
    chunks left empty drop out. A doc id lives in exactly one doc_part,
    so testing every posting against the union of the batch's dead
    lists drops exactly what each part's own list would."""
    params = dict(k1=float(stats["k1"]), b=float(stats["b"]), avgdl=avgdl,
                  block_size=int(stats["block_size"]))
    with_positions = bool(stats.get("with_positions", False))

    def rewrite(batches, dead=None):
        for pdf in batches:
            if dead is None:
                lists = pdf["dead_ids"][~pdf["doc_part"].duplicated()]
                gone = np.concatenate([np.empty(0, np.int64),
                                       *lists.dropna()]).astype(np.int64)
            else:
                gone = dead
            (bucket, part, codes, terms, ids, tfs, dls,
             pos) = segment_postings(pdf, with_positions)
            keep = ~np.isin(ids, gone)
            yield segment_rows(
                bucket[keep], part[keep], codes[keep], terms, ids[keep],
                tfs[keep], dls[keep],
                None if pos is None else pos[np.repeat(keep, tfs)], **params)

    return rewrite


def compact_index(spark: SparkSession, index_dir: str, out_dir: str) -> dict:
    """Physically expunge tombstoned docs into a fresh index at out_dir.

    Equal to a from-scratch build over the live corpus: N/avgdl/df and
    every chunk's block-max bounds are recomputed, empty chunks/terms
    drop out, positions (if stored) are rewritten per surviving posting.
    Runs on the driver when write_on_driver proves the input index small
    from its stats.json and dead_ids reads the dead set, else as Spark
    plans. Returns compaction metrics. With zero tombstones this still
    produces a valid copy (re-encoded under the identical stats).
    """
    t0 = time.time()
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    dead = (dead_ids(index_dir) if write_on_driver(
        int(stats["n_docs"]), int(stats["total_tokens"]),
        stats.get("with_positions", False),
        stats.get("with_term_vectors", False)) else None)
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    if dead is None:
        n_dead, dead_sig, n_docs, total_tokens = _compact_spark(
            spark, index_dir, out_dir, stats)
    else:
        # the Spark plan's signature: Σ crc32 of the ids' decimal strings
        n_dead = int(dead.size)
        dead_sig = sum(zlib.crc32(str(i).encode()) for i in dead.tolist())
        n_docs, total_tokens = _compact_local(index_dir, out_dir, stats,
                                              dead)
    avgdl = total_tokens / n_docs if n_docs else 0.0
    # deterministic, order-independent signature of the dead set for the
    # output fingerprint (drives resume identity downstream)
    fp = f"compact:{stats['input_fingerprint']}:{n_dead}:{dead_sig}"

    new_stats = dict(stats)
    new_stats.update(n_docs=n_docs, avgdl=avgdl, total_tokens=total_tokens,
                     input_fingerprint=fp)
    _atomic_write_json(os.path.join(out_dir, "stats.json"), new_stats)
    for bkt in range(int(stats["n_buckets"])):
        _atomic_write_json(
            _manifest_path(out_dir, bkt),
            {"bucket": bkt, "input_fingerprint": fp, "status": "complete",
             "compacted_from": index_dir, "n_deleted": n_dead,
             "elapsed_sec": round(time.time() - t0, 3)})
    return {"n_docs": n_docs, "avgdl": avgdl, "n_deleted": n_dead,
            "elapsed_sec": round(time.time() - t0, 3)}


def _compact_local(index_dir: str, out_dir: str, stats: dict,
                   dead: np.ndarray) -> tuple[int, int]:
    """The driver placement: pyarrow reads, the rewrite closure over the
    whole segment table at once, write_table writes. Returns the live
    (n_docs, total_tokens)."""
    store = pq.read_table(os.path.join(index_dir, "doc_store"))
    live = store.filter(pa.array(
        ~np.isin(store["doc_id"].to_numpy(zero_copy_only=False), dead)))
    n_docs = live.num_rows
    total_tokens = int(np.asarray(live["dl"], dtype=np.int64).sum())
    write_table(live, os.path.join(out_dir, "doc_store"))
    avgdl = total_tokens / n_docs if n_docs else 0.0

    seg = read_frame(os.path.join(index_dir, "segments"), SEGMENT_ARROW,
                     "bucket")
    (out,) = _make_rewriter(stats, avgdl)([seg], dead)
    write_segments(out, out_dir, int(stats["n_buckets"]))
    if stats.get("with_term_vectors", False):
        tv = read_frame(os.path.join(index_dir, "term_vectors"),
                        TERM_VECTORS_ARROW, "doc_part")
        tv = tv[~np.isin(tv["doc_id"].to_numpy(np.int64), dead)]
        write_table(frame_table(tv.sort_values(["doc_id", "term"]),
                                TERM_VECTORS_ARROW),
                    os.path.join(out_dir, "term_vectors"), "doc_part")
    return n_docs, total_tokens


def _compact_spark(spark: SparkSession, index_dir: str, out_dir: str,
                   stats: dict) -> tuple[int, int, int, int]:
    """The Spark placement. Returns (n_dead, dead signature, live
    n_docs, live total_tokens)."""
    doc_range = int(stats["doc_range"])
    n_buckets = int(stats["n_buckets"])
    dead = _dead_relation(spark, index_dir)
    if dead is None:
        dead = spark.createDataFrame([], "doc_id bigint")
    dead = dead.persist()
    sig_row = dead.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.crc32(F.col("doc_id").cast("string"))), F.lit(0))
        .alias("sig"),
    ).collect()[0]
    n_dead, dead_sig = int(sig_row["n"]), int(sig_row["sig"])

    # ---- doc store: anti-join the dead set; new global stats ----------
    store = spark.read.parquet(os.path.join(index_dir, "doc_store"))
    live_store = store.join(dead, "doc_id", "left_anti").persist()
    agg = live_store.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("dl").cast("bigint")), F.lit(0)).alias("tok"),
    ).collect()[0]
    n_docs, total_tokens = int(agg["n"]), int(agg["tok"])
    avgdl = total_tokens / n_docs if n_docs else 0.0
    live_store.write.mode("overwrite").parquet(
        os.path.join(out_dir, "doc_store"))

    # ---- segments: chunk-local rewrite, NO shuffle --------------------
    # Each (bucket, doc_part, term) chunk is independent: join it with
    # its doc_part's dead-id list, drop dead postings, re-encode under
    # the new avgdl (block-max bounds move with the length norm).
    dead_per_part = (
        dead.withColumn(
            "doc_part", (F.col("doc_id") / F.lit(doc_range)).cast("bigint"))
        .groupBy("doc_part")
        .agg(F.collect_list("doc_id").alias("dead_ids"))
    )
    if n_dead <= BROADCAST_DEAD_CAP:
        dead_per_part = F.broadcast(dead_per_part)
    seg = spark.read.schema(SEGMENT_SCHEMA).parquet(
        os.path.join(index_dir, "segments"))
    joined = seg.join(dead_per_part, "doc_part", "left")
    (
        joined.mapInPandas(_make_rewriter(stats, avgdl), schema=SEGMENT_SCHEMA)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(os.path.join(out_dir, "segments"))
    )

    # ---- term stats: re-aggregate from the rewritten segments ---------
    new_seg = spark.read.schema(SEGMENT_SCHEMA).parquet(
        os.path.join(out_dir, "segments"))
    (
        new_seg.groupBy("term")
        .agg(F.sum("df").cast("bigint").alias("df"),
             F.sum("cf").cast("bigint").alias("cf"))
        .withColumn("bucket", bucket_expr(F.col("term"), n_buckets))
        .repartition("bucket").sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(os.path.join(out_dir, "term_stats"))
    )

    # ---- forward index ------------------------------------------------
    if stats.get("with_term_vectors", False):
        tv = spark.read.schema(TERM_VECTORS_SCHEMA).parquet(
            os.path.join(index_dir, "term_vectors"))
        (
            tv.join(dead, "doc_id", "left_anti")
            .repartition("doc_part").sortWithinPartitions("doc_id", "term")
            .write.mode("overwrite").partitionBy("doc_part")
            .parquet(os.path.join(out_dir, "term_vectors"))
        )
    dead.unpersist()
    live_store.unpersist()
    return n_dead, dead_sig, n_docs, total_tokens
