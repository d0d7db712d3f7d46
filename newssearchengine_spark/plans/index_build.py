"""Inverted-index build: resumable, bucketed, skew-proof posting segments.

The write path of the engine — what ES does invisibly when the reference
bulk-loads (/root/reference/wapo/index_es.py:131-185): analyze every doc,
build per-term sorted posting lists, compress, persist.

Two placements, one rule (write_on_driver): the fingerprint that every
build computes also sums the characters of the text. Characters bound
tokens, so n_docs + chars x (1 + positions + term vectors) bounds the
rows the build produces before any data is read. When that volume fits
plans.search.SEARCH_DRIVER_CAP the build runs on the driver (ES's small
in-memory flush): the input is gathered, analyzed by the analyzer's
pandas batch function, and encoded by the SAME _make_encoder closure,
once over each wave's rows. A local relation (docs.isLocal(), e.g.
createDataFrame of a pandas frame) is gathered by a collect() that Spark
answers without a job and fingerprinted from those rows: 0 Spark jobs
in all. Any other input costs the fingerprint aggregate and the gather,
one job each: at most 2. Above the cap it is the Spark plan:

  corpus --analyze (codegen exprs)--> (doc_id, term, tf, dl)
         --ONE shuffle on (term_bucket, doc_part)--> groupBy.applyInPandas
         --run-batched delta+varbyte encode + block-max--> segment rows
         --dynamic-partition-overwrite parquet write, partitionBy(bucket)-->
         index_dir/segments/bucket=<b>/...
         + per-bucket lineage manifest (the resume checkpoint)

The driver placement writes with write_table: the same hive layout and
Spark-visible schemas, each table (or bucket directory) written to a
hidden `.tmp-*` sibling and renamed into place, so a reader never opens a
half-written table.

Skew: doc_part = doc_id // doc_range is a structural salt — a hot term
("return", "import" at code scale) is chunked across every doc range, so
group sizes are bounded by tokens_per_range / n_buckets no matter how
skewed the term distribution is (see config.IndexConfig).

Resume: each bucket's manifest row is written atomically AFTER its segment
partition commits, in both placements. An interrupted build re-runs only
buckets without a valid manifest for the current input fingerprint;
completed buckets are never recomputed (north rule: 10^12-file builds
must resume).

On-disk layout (all under index_dir):
  stats.json            engine config + global N/avgdl + input fingerprint
  doc_store/            (doc_id, <meta cols>, dl, sha256)  — point lookups,
                        sha256 row invariant (BASELINE.json input_hint)
  term_stats/           (term, df, cf) global — idf source at query time
  segments/bucket=<b>/  posting chunks (term, doc_part, blobs, block meta)
  manifest/bucket_<b>.json  lineage: counts, bytes, term range, fingerprint
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
import uuid
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import IndexConfig
from ..functions.analysis import (_analyze_py_batch, doc_term_freqs,
                                  doc_term_positions)
from ..functions.codec import (decode_positions_runs, decode_runs,
                               encode_positions_runs, encode_runs,
                               pack_positions, positions_pack_expr)

SEGMENT_SCHEMA = (
    "bucket int, doc_part bigint, term string, df bigint, cf bigint, "
    "docs binary, tfs binary, dls binary, "
    "block_last array<bigint>, block_max array<float>, positions binary"
)
TERM_STATS_SCHEMA = "term string, df bigint, cf bigint, bucket int"
TERM_VECTORS_SCHEMA = "doc_id bigint, term string, tf int, dl int, doc_part bigint"
# the parquet files' own columns of each table (a partition column lives
# in the directory name, not in the file) — what the Spark writes store
SEGMENT_ARROW = pa.schema([
    ("bucket", pa.int32()), ("doc_part", pa.int64()), ("term", pa.string()),
    ("df", pa.int64()), ("cf", pa.int64()), ("docs", pa.binary()),
    ("tfs", pa.binary()), ("dls", pa.binary()),
    ("block_last", pa.list_(pa.int64())),
    ("block_max", pa.list_(pa.float32())), ("positions", pa.binary())])
TERM_STATS_ARROW = pa.schema([("term", pa.string()), ("df", pa.int64()),
                              ("cf", pa.int64()), ("bucket", pa.int32())])
TERM_VECTORS_ARROW = pa.schema([
    ("doc_part", pa.int64()), ("doc_id", pa.int64()), ("term", pa.string()),
    ("tf", pa.int32()), ("dl", pa.int32())])


def write_on_driver(n_docs: int, tokens: int, with_positions: bool,
                    with_term_vectors: bool) -> bool:
    """The write side of the one placement rule: a build, compaction or
    merge runs on the driver when its volume — documents plus a posting
    per token, plus a position and a term-vector row per token when
    those are stored — fits plans.search.SEARCH_DRIVER_CAP. `tokens` is
    proven before any data read: the input's characters for a build
    (its fingerprint aggregate), stats.json's total_tokens for a
    compaction or merge."""
    from .search import SEARCH_DRIVER_CAP

    vol = n_docs + tokens * (1 + bool(with_positions)
                             + bool(with_term_vectors))
    return vol <= SEARCH_DRIVER_CAP


def write_table(table: pa.Table, path: str,
                partition_by: str | None = None) -> None:
    """The driver placement's parquet writer, in the layout and with the
    Spark-visible schema of the Spark write it stands in for: one file,
    or with `partition_by` one `<col>=<value>` directory per value whose
    files omit that column. The table goes to a hidden `.tmp-*` sibling
    first and is renamed into place, so a reader opens the previous
    directory (or none), never a half-written one; Spark and pyarrow
    both skip `.`-prefixed entries."""
    parent, name = os.path.split(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".tmp-{uuid.uuid4().hex}-{name}")
    os.makedirs(tmp)
    try:
        table = table.replace_schema_metadata(None)
        part = f"part-{uuid.uuid4().hex}.parquet"
        keys = None
        if partition_by is not None:
            keys = table.column(partition_by).to_numpy()
            table = table.drop_columns([partition_by])
        # parquet-mr's dictionary fallback, decided up front: dictionaries
        # only where values repeat (small posting blobs do, terms do not);
        # no min/max stats on blobs, which nothing prunes on; no arrow
        # schema footer, which Spark never reads
        opts = dict(
            use_dictionary=[
                f.name for f in table.schema if not pa.types.is_list(f.type)
                and 2 * pc.count_distinct(table[f.name]).as_py()
                <= table.num_rows],
            write_statistics=[f.name for f in table.schema
                              if not pa.types.is_binary(f.type)],
            store_schema=False)
        if keys is None:
            pq.write_table(table, os.path.join(tmp, part), **opts)
        else:
            for v in np.unique(keys):
                pdir = os.path.join(tmp, f"{partition_by}={v}")
                os.makedirs(pdir)
                pq.write_table(table.filter(pa.array(keys == v)),
                               os.path.join(pdir, part), **opts)
        if os.path.lexists(path):
            old = os.path.join(parent, f".old-{uuid.uuid4().hex}-{name}")
            os.replace(path, old)
            os.replace(tmp, path)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.replace(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def read_frame(path: str, schema: pa.Schema, col: str) -> pd.DataFrame:
    """Driver-local read of a table written partitioned by `col` into one
    frame with `schema`'s columns: one pyarrow dataset read with hive
    partitioning, `col` restored as int64 from the `<col>=<value>`
    directory names (the files do not hold it)."""
    if os.path.isdir(path):
        data = ds.dataset(path, format="parquet", partitioning=ds.partitioning(
            pa.schema([(col, pa.int64())]), flavor="hive"))
        if data.files:
            return data.to_table(columns=schema.names).to_pandas()
    return pd.DataFrame({n: pd.Series(dtype=object) for n in schema.names})


def frame_table(pdf: pd.DataFrame, schema: pa.Schema) -> pa.Table:
    """A pandas frame as an arrow table of exactly `schema`."""
    return pa.Table.from_pandas(pdf[schema.names], schema=schema,
                                preserve_index=False)


def bucket_expr(term_col, n_buckets: int):
    """crc32-based term bucket — matches zlib.crc32 on the Python side."""
    return (F.crc32(F.encode(term_col, "UTF-8")) % n_buckets).cast("int")


def term_bucket(term: str, n_buckets: int) -> int:
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


_CONF_LOCK = threading.Lock()
_CONF_HELD: dict = {}


@contextlib.contextmanager
def _session_conf(spark, key: str, value: str):
    """Set a session-wide SQL conf for the block. Builds on other threads
    share the session, so the setting is reference-counted under one
    module lock: the first entry saves the session's value and sets
    `value`, the last exit restores the saved value — two overlapping
    builds never restore each other's setting."""
    slot = (spark._jsparkSession.hashCode(), key)
    with _CONF_LOCK:
        held = _CONF_HELD.get(slot)
        if held is None:
            held = _CONF_HELD[slot] = [0, spark.conf.get(key)]
            spark.conf.set(key, value)
        held[0] += 1
    try:
        yield
    finally:
        with _CONF_LOCK:
            held[0] -= 1
            if not held[0]:
                del _CONF_HELD[slot]
                spark.conf.set(key, held[1])


def _one_job_per_action(spark):
    """AQE submits every shuffle stage of a plan as a Spark job of its
    own (the fingerprint aggregate alone would be two). The build's
    driver-bound actions — the fingerprint and the driver placement's
    gather — run with it off: one job each, whatever the input plan."""
    return _session_conf(spark, "spark.sql.adaptive.enabled", "false")


def input_fingerprint(docs: DataFrame, text_col: str) -> tuple[str, int, int]:
    """Order-independent corpus fingerprint: row count + sum of
    crc32(sha256(content)). Cheap one-pass aggregate; any row change,
    addition, or removal changes it (the resume-invalidate key).
    Returns (fingerprint, n_docs, chars) — one job serves all three;
    chars, the text's total length, bounds the build's tokens."""
    with _one_job_per_action(docs.sparkSession):
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.sha2(F.col(text_col), 256)).cast("decimal(38,0)")).alias("s"),
            F.sum(F.length(F.col(text_col)).cast("bigint")).alias("chars"),
        ).collect()[0]
    return f"{row['n']}:{row['s']}", int(row["n"]), int(row["chars"] or 0)


def gathered_fingerprint(got: pa.Table) -> tuple[str, int, int]:
    """input_fingerprint's (fingerprint, n_docs, chars) computed from the
    gathered input (_gather's sha256 and content_len) — the same string,
    "n:None" when no content is non-null, since resume keys on it."""
    sha = got.column("sha256").drop_null().to_pylist()
    s = sum(zlib.crc32(h.encode()) for h in sha) if sha else None
    chars = pc.sum(got.column("content_len")).as_py() or 0
    return f"{got.num_rows}:{s}", got.num_rows, int(chars)


def _gather(docs: DataFrame, text_col: str, id_col: str,
            meta_cols) -> pa.Table:
    """The driver placement's input as one arrow table: doc_id, the meta
    columns, the doc store's content_len and sha256, and the text. A
    local relation (docs.isLocal(): rows already in the driver's JVM) of
    flat column types is answered by collect(), which Spark serves
    without a job; any other input by one toArrow job."""
    sel = docs.select(
        F.col(id_col).alias("doc_id"), *[F.col(c) for c in meta_cols],
        F.length(F.col(text_col)).alias("content_len"),
        F.sha2(F.col(text_col), 256).alias("sha256"),
        F.col(text_col).alias("__text"),
    )
    if docs.isLocal() and all(
            isinstance(f.dataType, T.AtomicType)
            and not isinstance(f.dataType, T.DatetimeType)
            for f in sel.schema):
        rows = sel.collect()
        schema = to_arrow_schema(sel.schema)
        cols = list(zip(*rows)) or [()] * len(schema)
        return pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)],
            schema=schema)
    with _one_job_per_action(docs.sparkSession):
        return sel.toArrow()


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _manifest_path(index_dir: str, bucket: int) -> str:
    return os.path.join(index_dir, "manifest", f"bucket_{bucket:05d}.json")


def completed_buckets(index_dir: str, fingerprint: str) -> set[int]:
    mdir = os.path.join(index_dir, "manifest")
    done: set[int] = set()
    if not os.path.isdir(mdir):
        return done
    for fn in os.listdir(mdir):
        if not fn.endswith(".json"):
            continue
        try:
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue  # torn write: treat as incomplete
        if m.get("status") == "complete" and m.get("input_fingerprint") == fingerprint:
            done.add(int(m["bucket"]))
    return done


def segment_rows(bucket, doc_part, codes, terms, ids, tfs, dls, flat_pos,
                 *, k1: float, b: float, avgdl: float,
                 block_size: int) -> pd.DataFrame:
    """Postings in any order -> segment rows, one per (bucket, doc_part,
    term) chunk. Posting i belongs to the chunk (bucket[i], doc_part[i],
    terms[codes[i]]) — codes index the sorted distinct terms — and its
    positions are its tfs[i] values of flat_pos (in posting order; None
    without positions). One sort by (bucket, term, doc_part, doc_id), the
    positions moved with their posting through one gather index, and one
    encode_runs over all the chunks: the write path's shared tail."""
    bucket, doc_part, codes, ids, tfs, dls = (
        np.asarray(x, dtype=np.int64)
        for x in (bucket, doc_part, codes, ids, tfs, dls))
    order = np.lexsort((ids, doc_part, codes, bucket))
    pos_at = np.cumsum(tfs) - tfs  # each posting's first position
    bucket, doc_part, codes, ids, tfs, dls, pos_at = (
        x[order] for x in (bucket, doc_part, codes, ids, tfs, dls, pos_at))
    new = np.ones(ids.size, dtype=bool)
    new[1:] = ((bucket[1:] != bucket[:-1]) | (codes[1:] != codes[:-1])
               | (doc_part[1:] != doc_part[:-1]))
    starts = np.flatnonzero(new)
    counts = np.diff(np.append(starts, ids.size))
    enc = encode_runs(ids, tfs, dls, counts, k1=k1, b=b, avgdl=avgdl,
                      block_size=block_size)
    positions = None
    if flat_pos is not None:
        pos = np.asarray(flat_pos, dtype=np.int64)[
            np.repeat(pos_at - (np.cumsum(tfs) - tfs), tfs)
            + np.arange(int(tfs.sum()))]
        positions = encode_positions_runs(pos, tfs, counts).to_numpy(
            zero_copy_only=False)
    return pd.DataFrame({
        "bucket": bucket[starts].astype(np.int32),
        "doc_part": doc_part[starts],
        "term": np.asarray(terms, dtype=object)[codes[starts]],
        "df": counts,
        "cf": (np.add.reduceat(tfs, starts) if starts.size
               else np.empty(0, np.int64)),
        **{c: a.to_numpy(zero_copy_only=False) for c, a in enc.items()},
        "positions": positions,
    })


def segment_postings(seg: pd.DataFrame, with_positions: bool) -> tuple:
    """Segment rows -> their postings, segment_rows' arguments: (bucket,
    doc_part, codes, terms, ids, tfs, dls, flat_pos) with every chunk
    decoded in one decode_runs (and one positions decode)."""
    ids, tfs, dls, counts = decode_runs(seg["docs"], seg["tfs"], seg["dls"])
    run = np.repeat(np.arange(len(seg)), counts)
    codes, terms = pd.factorize(seg["term"], sort=True)
    return (seg["bucket"].to_numpy()[run], seg["doc_part"].to_numpy()[run],
            codes[run], terms, ids, tfs, dls,
            decode_positions_runs(seg["positions"], tfs) if with_positions
            else None)


def _make_encoder(cfg: IndexConfig, avgdl: float):
    """Closure for groupBy(bucket, doc_part).applyInPandas — or called
    once with a whole wave's analyzed rows on the driver: every
    (bucket, doc_part, term) chunk's postings sorted and encoded in one
    segment_rows pass, no loop over terms. The rows' positions arrive
    varbyte-packed per posting (positions_pack_expr ran pre-shuffle, in
    codegen; pack_positions on the driver) and are decoded as one
    stream."""
    params = dict(k1=cfg.bm25.k1, b=cfg.bm25.b, avgdl=avgdl,
                  block_size=cfg.block_size)
    with_positions = cfg.with_positions

    # no annotations: pyspark cannot classify the two-arg (key, pdf)
    # grouped-map signature from hints and warns on any annotated fn
    def encode_group(key, pdf):
        tfs = pdf["tf"].to_numpy(np.int64)
        codes, terms = pd.factorize(pdf["term"], sort=True)
        return segment_rows(
            pdf["bucket"], pdf["doc_part"], codes, terms, pdf["doc_id"],
            tfs, pdf["dl"],
            decode_positions_runs(pdf["positions"], tfs) if with_positions
            else None, **params)

    return encode_group


def _analyze_local(got: pa.Table, cfg: IndexConfig
                   ) -> tuple[pd.DataFrame, pa.Table]:
    """The driver placement's analysis of the gathered input (_gather),
    tokenized by the analyzer's pandas batch function — the one the
    news/german Spark plans run, tested equal to analyze_expr in code
    mode. Returns the (doc_id, term, tf, dl[, positions], bucket,
    doc_part) rows the Spark plan shuffles — positions varbyte-packed
    per row exactly as positions_pack_expr packs them — and the doc
    store table, dl included."""
    toks = _analyze_py_batch(got.column("__text").to_pandas(), cfg.analyzer)
    lens = toks.map(len).to_numpy(dtype=np.int64)
    store = got.drop_columns(["__text"]).append_column(
        "dl", pa.array(lens, pa.int32()))

    # one (doc, term) row per distinct pair; positions stay in token
    # order within a row because the sort is stable
    terms = np.fromiter((t for lst in toks for t in lst), dtype=object,
                        count=int(lens.sum()))
    doc = np.repeat(np.arange(lens.size), lens)
    pos = np.arange(terms.size) - np.repeat(np.cumsum(lens) - lens, lens)
    codes, uniq = pd.factorize(terms)
    key = doc * max(len(uniq), 1) + codes
    order = np.argsort(key, kind="stable")
    key = key[order]
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]]) \
        if key.size else np.empty(0, dtype=np.int64)
    tfs = np.diff(np.r_[starts, key.size])
    first = order[starts]
    ids = got.column("doc_id").to_numpy().astype(np.int64)
    rows = pd.DataFrame({
        "doc_id": ids[doc[first]],
        "term": uniq[codes[first]],
        "tf": tfs.astype(np.int32),
        "dl": lens[doc[first]].astype(np.int32),
    })
    if cfg.with_positions:
        rows["positions"] = pack_positions(pos[order], tfs).to_numpy(
            zero_copy_only=False)
    buckets = np.array([term_bucket(t, cfg.n_buckets) for t in uniq],
                       dtype=np.int32)
    rows["bucket"] = buckets[codes[first]]
    rows["doc_part"] = rows["doc_id"] // cfg.doc_range
    return rows, store


def term_stats_frame(seg: pd.DataFrame, n_buckets: int) -> pd.DataFrame:
    """(term, df, cf, bucket) summed over rows carrying per-term df/cf
    (segment rows, or the analyzed rows with df 1 each), term-sorted."""
    ts = seg.groupby("term", sort=True).agg(
        df=("df", "sum"), cf=("cf", "sum")).reset_index()
    ts["bucket"] = [term_bucket(t, n_buckets) for t in ts["term"]]
    return ts


def write_segments(seg: pd.DataFrame, index_dir: str, n_buckets: int) -> None:
    """A driver-placed compaction's or merge's segment rows, and the
    term_stats summed from them (as the Spark compaction re-aggregates)."""
    seg = seg.sort_values(["bucket", "term", "doc_part"], kind="mergesort")
    write_table(frame_table(seg, SEGMENT_ARROW),
                os.path.join(index_dir, "segments"), "bucket")
    write_table(frame_table(term_stats_frame(seg, n_buckets),
                            TERM_STATS_ARROW),
                os.path.join(index_dir, "term_stats"), "bucket")


def _bucket_counts(seg: pd.DataFrame) -> dict:
    """A bucket manifest's counts over its segment rows."""
    blobs = sum(len(x) for c in ("docs", "tfs", "dls") for x in seg[c])
    blobs += sum(len(x) for x in seg["positions"] if x is not None)
    return {"n_rows": len(seg), "n_terms": int(seg["term"].nunique()),
            "n_postings": int(seg["df"].sum()), "bytes": int(blobs),
            "term_range": [min(seg["term"]), max(seg["term"])]}


def _write_manifests(index_dir: str, wave, counts: dict, fp: str,
                     t_wave: float) -> None:
    """One lineage manifest per bucket of the wave, written only after
    the wave's segments are; a bucket with no terms at all still counts
    as complete."""
    empty = {"n_rows": 0, "n_terms": 0, "n_postings": 0, "bytes": 0,
             "term_range": [None, None]}
    for bkt in wave:
        _atomic_write_json(
            _manifest_path(index_dir, bkt),
            {"bucket": bkt, **counts.get(bkt, empty),
             "input_fingerprint": fp,
             "elapsed_sec": round(time.time() - t_wave, 3),
             "status": "complete"},
        )


def build_index(
    docs: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    *,
    text_col: str = "content",
    id_col: str = "doc_id",
    meta_cols: tuple[str, ...] = (),
    resume: bool = True,
    n_waves: int = 1,
    max_buckets: int | None = None,
) -> dict:
    """Build (or resume) the index. Returns build metrics.

    Placed on the driver when write_on_driver proves the volume from the
    fingerprint's character count, else the Spark plans; both write the
    same tables, stats.json and manifests.
    n_waves > 1 splits buckets into waves — each wave is an independent
    job + checkpoint (manifests land after each wave), which is both the
    resume granularity and a memory-pressure valve at scale.
    max_buckets limits how many pending buckets are built this call (the
    kill-and-resume test uses it to simulate an interrupted build).
    """
    cfg = cfg or IndexConfig()
    spark = docs.sparkSession
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)

    t_start = time.time()
    phases: dict[str, float] = {}

    def mark(name):
        phases[name] = round(time.time() - t_start - sum(phases.values()), 3)

    # a local relation's rows are on the driver already: gather them
    # (no job) and fingerprint them there
    got = (_gather(docs, text_col, id_col, meta_cols) if docs.isLocal()
           else None)
    fp, n_docs, chars = (gathered_fingerprint(got) if got is not None
                         else input_fingerprint(docs, text_col))
    mark("fingerprint")
    local = write_on_driver(n_docs, chars, cfg.with_positions,
                            cfg.with_term_vectors)

    # ---- analyze once; reuse for stats, doc store, and segments ----
    if local:
        tf, store = _analyze_local(
            got if got is not None
            else _gather(docs, text_col, id_col, meta_cols), cfg)
        total_tokens = int(tf["tf"].sum())
    else:
        analyze = doc_term_positions if cfg.with_positions else doc_term_freqs
        tf = analyze(docs, text_col=text_col, id_col=id_col,
                     cfg=cfg.analyzer).persist()
        total_tokens = tf.agg(F.sum(F.col("tf").cast("bigint"))).collect()[0][0] or 0
    got = None  # above the cap the Spark plan reads the input itself
    avgdl = float(total_tokens) / n_docs if n_docs else 0.0
    mark("analyze")

    # ---- doc store: meta + dl + sha256 (the per-row invariant) ----
    if local:
        write_table(store, os.path.join(index_dir, "doc_store"))
    else:
        dl_df = tf.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        doc_store = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                *[F.col(c) for c in meta_cols],
                F.length(F.col(text_col)).alias("content_len"),
                F.sha2(F.col(text_col), 256).alias("sha256"),
            )
            .join(dl_df, "doc_id", "left")
            .fillna(0, subset=["dl"])
        )
        doc_store.write.mode("overwrite").parquet(os.path.join(index_dir, "doc_store"))
    mark("doc_store")

    # ---- global term stats (idf source). Hot terms are absorbed by
    # Catalyst's map-side partial aggregation here. Written partitioned by
    # term bucket and term-sorted within files: the query side resolves
    # term->df with a driver-LOCAL pruned parquet read (the Lucene
    # term-dictionary shape) instead of a Spark job — see
    # SegmentIndex.term_dfs. ----
    ts_dir = os.path.join(index_dir, "term_stats")
    if local:
        ts = term_stats_frame(tf.assign(df=1, cf=tf["tf"].astype(np.int64)),
                              cfg.n_buckets)
        write_table(frame_table(ts, TERM_STATS_ARROW), ts_dir, "bucket")
    else:
        tstats = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum(F.col("tf").cast("bigint")).alias("cf"),
        ).withColumn("bucket", bucket_expr(F.col("term"), cfg.n_buckets))
        (
            tstats.repartition("bucket").sortWithinPartitions("term")
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(ts_dir)
        )
    mark("term_stats")

    # ---- optional forward index: per-doc term vectors (es.termvectors,
    # the reference's keyword-extraction source, wapo/parser.py:10-47).
    # Partitioned by doc_part so per-doc reads are directory-pruned. ----
    if cfg.with_term_vectors:
        tv_dir = os.path.join(index_dir, "term_vectors")
        if local:
            tv = tf.sort_values(["doc_id", "term"], kind="mergesort")
            write_table(frame_table(tv, TERM_VECTORS_ARROW), tv_dir,
                        "doc_part")
        else:
            (
                tf.select(
                    (F.col("doc_id") / cfg.doc_range).cast("bigint")
                    .alias("doc_part"),
                    "doc_id", "term", F.col("tf").cast("int").alias("tf"),
                    F.col("dl").cast("int").alias("dl"),
                )
                .repartition("doc_part").sortWithinPartitions("doc_id", "term")
                .write.mode("overwrite").partitionBy("doc_part")
                .parquet(tv_dir)
            )
        mark("term_vectors")

    _atomic_write_json(
        os.path.join(index_dir, "stats.json"),
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "total_tokens": int(total_tokens),
            "input_fingerprint": fp,
            "n_buckets": cfg.n_buckets,
            "doc_range": cfg.doc_range,
            "block_size": cfg.block_size,
            "k1": cfg.bm25.k1,
            "b": cfg.bm25.b,
            "min_token_len": cfg.analyzer.min_token_len,
            "analyzer_mode": cfg.analyzer.mode,
            "with_positions": cfg.with_positions,
            "with_term_vectors": cfg.with_term_vectors,
            "stopwords": sorted(cfg.analyzer.stopwords),
        },
    )

    # ---- segments: one shuffle on (bucket, doc_part) per wave ----
    done = completed_buckets(index_dir, fp) if resume else set()
    pending = [b for b in range(cfg.n_buckets) if b not in done]
    if max_buckets is not None:
        pending = pending[:max_buckets]

    encoder = _make_encoder(cfg, avgdl)
    seg_dir = os.path.join(index_dir, "segments")
    if not local:
        keyed_cols: list = ["term", "doc_id", "tf", "dl"]
        if cfg.with_positions:
            # pack positions to delta+varbyte binary BEFORE the shuffle
            # (pure codegen): the exchange carries ~1 byte/position
            # instead of an int array — the positional sidecar no longer
            # doubles the shuffle payload (round-2 scaling bottleneck)
            keyed_cols.append(
                positions_pack_expr(F.col("positions")).alias("positions"))
        keyed = tf.select(
            bucket_expr(F.col("term"), cfg.n_buckets).alias("bucket"),
            (F.col("doc_id") / cfg.doc_range).cast("bigint").alias("doc_part"),
            *keyed_cols,
        )
    built = 0
    with contextlib.ExitStack() as stack:
        if not local:
            stack.callback(tf.unpersist)
            stack.enter_context(_session_conf(
                spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"))
        waves = np.array_split(np.array(pending, dtype=int), max(1, n_waves))
        for wave in waves:
            wave = [int(x) for x in wave]
            if not wave:
                continue
            t_wave = time.time()
            if local:
                counts = _segments_local(tf, encoder, wave, seg_dir)
            else:
                counts = _segments_spark(spark, keyed, encoder, wave, seg_dir)
            mark(f"segments_wave{built}")
            # lineage manifests — only after the wave's data is committed
            _write_manifests(index_dir, wave, counts, fp, t_wave)
            mark(f"manifests_wave{built}")
            built += len(wave)

    return {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "buckets_built": built,
        "buckets_skipped": len(done),
        "elapsed_sec": round(time.time() - t_start, 3),
        "files_per_sec": round(n_docs / max(1e-9, time.time() - t_start), 2),
        "input_fingerprint": fp,
        "phases": phases,
    }


def _segments_local(tf: pd.DataFrame, encoder, wave, seg_dir: str) -> dict:
    """One wave on the driver: the encoder closure once over the wave's
    analyzed rows, each bucket's rows written into bucket=<b> (a bucket
    with no rows left without a directory, as the Spark write leaves
    it). Returns the wave's manifest counts."""
    os.makedirs(seg_dir, exist_ok=True)  # as the Spark write leaves it
    seg = encoder(None, tf[tf["bucket"].isin(wave)])
    rows = seg["bucket"].to_numpy()  # segment_rows sorts by bucket first
    counts = {}
    for bkt, lo, hi in zip(wave, np.searchsorted(rows, wave, "left"),
                           np.searchsorted(rows, wave, "right")):
        bdir = os.path.join(seg_dir, f"bucket={bkt}")
        if lo == hi:
            shutil.rmtree(bdir, ignore_errors=True)
            continue
        part = seg.iloc[lo:hi]
        write_table(frame_table(part, SEGMENT_ARROW).drop_columns(["bucket"]),
                    bdir)
        counts[bkt] = _bucket_counts(part)
    return counts


def _segments_spark(spark, keyed: DataFrame, encoder, wave,
                    seg_dir: str) -> dict:
    """One wave as the Spark plan: the encoder in applyInPandas over the
    (bucket, doc_part) shuffle, a dynamic-partition-overwrite write, and
    one aggregate job for the wave's manifest counts."""
    seg = (
        keyed.filter(F.col("bucket").isin(wave))
        .groupBy("bucket", "doc_part")
        .applyInPandas(encoder, schema=SEGMENT_SCHEMA)
        .sortWithinPartitions("term", "doc_part")
    )
    seg.write.mode("overwrite").partitionBy("bucket").parquet(seg_dir)
    # explicit schema: an empty corpus writes a schemaless dir
    stats_rows = (
        spark.read.schema(SEGMENT_SCHEMA).parquet(seg_dir)
        .filter(F.col("bucket").isin(wave))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum(F.length("docs") + F.length("tfs") + F.length("dls")
                  + F.coalesce(F.length("positions"), F.lit(0))).alias("bytes"),
            F.min("term").alias("term_lo"),
            F.max("term").alias("term_hi"),
        )
        .collect()
    )
    return {int(r["bucket"]): {
        "n_rows": int(r["n_rows"]), "n_terms": int(r["n_terms"]),
        "n_postings": int(r["n_postings"]), "bytes": int(r["bytes"]),
        "term_range": [r["term_lo"], r["term_hi"]]} for r in stats_rows}
