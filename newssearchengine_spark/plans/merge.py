"""Segment-index merge: combine two indexes into one (incremental corpus).

The reference's incremental path is a single-doc upsert into ES
(/root/reference/wapo/index_es.py:187-192 — re-adding v2 docs missing from
v3); Lucene merges segments in the background. Our explicit analog:
index the new docs as their own (small) index, then MERGE — cheaper than
rebuilding because the big side's postings are already analyzed, encoded,
and bucketed; the merge moves compressed chunk rows, not raw tokens.

Semantics that make this more than a file concat:
- global stats change: N, avgdl, and per-term df are re-aggregated, and
  every posting chunk's block-max tf-norm bounds are recomputed for the new
  avgdl (BM25 length norms move — scores after merge must equal a
  from-scratch build over the union corpus; asserted in tests).
- chunks with the same (bucket, term, doc_part) from both sides are
  merge-sorted into one chunk by the ``_make_remerger`` closure (doc-id
  spaces must be disjoint — validated): every chunk is decoded, each
  chunk's postings sorted by doc id with one lexsort, and every chunk
  re-encoded with the run-batched codec — a chunk present on one side
  only is re-encoded too, to the same bytes (varbyte is deterministic).
- skew story is unchanged: the unit of work is (bucket, doc_part), so hot
  terms stay chunked across doc ranges.

Two placements of the same closure (index_build.write_on_driver): when
both sides' n_docs and total_tokens (stats.json, scaled by positions and
term vectors) prove the merged volume fits SEARCH_DRIVER_CAP, the merge
runs on the driver over pyarrow reads, the closure called once over
both sides' whole segment tables, and writes each table to a hidden
temp directory renamed into place (index_build.write_table) — no Spark
job. Above it, one Spark shuffle on (bucket, doc_part) runs the closure
in applyInPandas.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .index_build import (SEGMENT_ARROW, SEGMENT_SCHEMA, TERM_STATS_SCHEMA,
                          TERM_VECTORS_ARROW, TERM_VECTORS_SCHEMA,
                          _atomic_write_json, _manifest_path, bucket_expr,
                          frame_table, read_frame, segment_postings,
                          segment_rows, write_on_driver, write_segments,
                          write_table)


def _make_remerger(stats: dict, avgdl: float):
    """The merge's closure, per (bucket, doc_part) group in applyInPandas
    or once over both sides' whole segment tables on the driver: decode
    every chunk at once, merge-sort each term's postings from both
    sides by doc id (segment_rows' one lexsort; positions move with
    their posting) and re-encode them, block-max bounds under the
    merged avgdl."""
    params = dict(k1=stats["k1"], b=stats["b"], avgdl=avgdl,
                  block_size=stats["block_size"])
    with_positions = bool(stats.get("with_positions", False))

    # no annotations: pyspark cannot classify the two-arg (key, pdf)
    # grouped-map signature from hints and warns on any annotated fn
    def remerge(key, pdf):
        return segment_rows(*segment_postings(pdf, with_positions), **params)

    return remerge


def merge_indexes(spark: SparkSession, index_a: str, index_b: str,
                  out_dir: str) -> dict:
    """Merge two compatible indexes into out_dir. Returns merge metrics."""
    t0 = time.time()
    with open(os.path.join(index_a, "stats.json")) as f:
        sa = json.load(f)
    with open(os.path.join(index_b, "stats.json")) as f:
        sb = json.load(f)
    for key in ("n_buckets", "doc_range", "block_size", "k1", "b",
                "min_token_len", "stopwords"):
        if sa[key] != sb[key]:
            raise ValueError(f"incompatible indexes: {key} differs")
    # an index older than the analyzer modes was built in code mode
    if sa.get("analyzer_mode", "code") != sb.get("analyzer_mode", "code"):
        raise ValueError("incompatible indexes: analyzer_mode differs")
    if sa.get("with_positions", False) != sb.get("with_positions", False):
        raise ValueError("incompatible indexes: with_positions differs")
    if sa.get("with_term_vectors", False) != sb.get("with_term_vectors", False):
        raise ValueError("incompatible indexes: with_term_vectors differs")
    with_term_vectors = bool(sa.get("with_term_vectors", False))

    n_docs = sa["n_docs"] + sb["n_docs"]
    total_tokens = sa["total_tokens"] + sb["total_tokens"]
    avgdl = total_tokens / n_docs if n_docs else 0.0
    local = write_on_driver(n_docs, total_tokens,
                            sa.get("with_positions", False), with_term_vectors)

    if local:
        ids_a, ids_b = (pq.read_table(os.path.join(d, "doc_store"),
                                      columns=["doc_id"])["doc_id"]
                        .to_numpy(zero_copy_only=False)
                        for d in (index_a, index_b))
        overlap = int(np.intersect1d(ids_a, ids_b).size)
    else:
        store_a = spark.read.parquet(os.path.join(index_a, "doc_store"))
        store_b = spark.read.parquet(os.path.join(index_b, "doc_store"))
        overlap = store_a.select("doc_id").join(store_b.select("doc_id"),
                                                "doc_id").count()
    if overlap:
        raise ValueError(f"doc_id spaces overlap: {overlap} shared ids")

    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    fp = f"merge:{sa['input_fingerprint']}+{sb['input_fingerprint']}"
    remerge = _make_remerger(sa, avgdl)
    if local:
        _merge_local(index_a, index_b, out_dir, sa, remerge)
    else:
        _merge_spark(spark, store_a.unionByName(store_b), index_a, index_b,
                     out_dir, sa, remerge)

    stats = dict(sa)
    stats.update(
        n_docs=n_docs, avgdl=avgdl, total_tokens=total_tokens,
        input_fingerprint=fp,
    )
    _atomic_write_json(os.path.join(out_dir, "stats.json"), stats)
    for bkt in range(int(sa["n_buckets"])):
        _atomic_write_json(
            _manifest_path(out_dir, bkt),
            {"bucket": bkt, "input_fingerprint": fp, "status": "complete",
             "merged_from": [index_a, index_b],
             "elapsed_sec": round(time.time() - t0, 3)},
        )

    # tombstones (plans.delete) survive a merge: deleted docs must not
    # resurface in the merged index — copy both sidecars forward (stats
    # stay frozen-with-deletes, consistent with the unmerged handles)
    for side, src in (("a", index_a), ("b", index_b)):
        tdir = os.path.join(src, "tombstones")
        if os.path.isdir(tdir):
            dst = os.path.join(out_dir, "tombstones")
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(tdir):
                if f.endswith(".parquet"):
                    shutil.copy2(os.path.join(tdir, f),
                                 os.path.join(dst, f"{side}-{f}"))
    return {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "elapsed_sec": round(time.time() - t0, 3),
    }


def _merge_local(index_a: str, index_b: str, out_dir: str, stats: dict,
                 remerge) -> None:
    """The driver placement: pyarrow reads of both sides, the remerge
    closure once over their union, write_table
    writes; term_stats are summed from the merged segments."""
    sides = (index_a, index_b)
    store_a, store_b = (pq.read_table(os.path.join(d, "doc_store"))
                        for d in sides)
    # unionByName: B's columns in A's order
    store_b = store_b.select(store_a.column_names).cast(store_a.schema)
    write_table(pa.concat_tables([store_a, store_b]),
                os.path.join(out_dir, "doc_store"))

    if stats.get("with_term_vectors", False):
        tv = pd.concat([read_frame(os.path.join(d, "term_vectors"),
                                   TERM_VECTORS_ARROW, "doc_part")
                        for d in sides], ignore_index=True)
        write_table(frame_table(tv.sort_values(["doc_id", "term"]),
                                TERM_VECTORS_ARROW),
                    os.path.join(out_dir, "term_vectors"), "doc_part")

    seg = pd.concat([read_frame(os.path.join(d, "segments"), SEGMENT_ARROW,
                                "bucket") for d in sides], ignore_index=True)
    write_segments(remerge(None, seg), out_dir, int(stats["n_buckets"]))


def _merge_spark(spark: SparkSession, store, index_a: str, index_b: str,
                 out_dir: str, stats: dict, remerge) -> None:
    """The Spark placement: union + re-aggregate per table, and one
    shuffle on (bucket, doc_part) running remerge in applyInPandas."""
    store.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_store"))
    # explicit schema: an empty index's term_stats holds no file
    ts_a, ts_b = (spark.read.schema(TERM_STATS_SCHEMA).parquet(
        os.path.join(d, "term_stats")) for d in (index_a, index_b))
    (
        ts_a.unionByName(ts_b)
        .groupBy("term")
        .agg(F.sum("df").cast("bigint").alias("df"),
             F.sum("cf").cast("bigint").alias("cf"))
        .withColumn("bucket", bucket_expr(F.col("term"),
                                          int(stats["n_buckets"])))
        .repartition("bucket").sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(os.path.join(out_dir, "term_stats"))
    )

    # forward index: doc-id spaces are disjoint (checked by the caller),
    # so the merged term_vectors is a plain union re-partitioned by
    # doc_part — without this, the merged stats would advertise
    # with_term_vectors while term_vectors()/keywords_tf_idf()/
    # significant_terms() die on a missing parquet path.
    if stats.get("with_term_vectors", False):
        tv_a = spark.read.schema(TERM_VECTORS_SCHEMA).parquet(
            os.path.join(index_a, "term_vectors"))
        tv_b = spark.read.schema(TERM_VECTORS_SCHEMA).parquet(
            os.path.join(index_b, "term_vectors"))
        (
            tv_a.unionByName(tv_b)
            .repartition("doc_part").sortWithinPartitions("doc_id", "term")
            .write.mode("overwrite").partitionBy("doc_part")
            .parquet(os.path.join(out_dir, "term_vectors"))
        )

    seg_a = spark.read.schema(SEGMENT_SCHEMA).parquet(
        os.path.join(index_a, "segments"))
    seg_b = spark.read.schema(SEGMENT_SCHEMA).parquet(
        os.path.join(index_b, "segments"))
    merged = (
        seg_a.unionByName(seg_b)
        .groupBy("bucket", "doc_part")
        .applyInPandas(remerge, schema=SEGMENT_SCHEMA)
        .sortWithinPartitions("term", "doc_part")
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(out_dir, "segments")
    )
