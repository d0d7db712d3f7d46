"""Posting-list codec: delta + varbyte compression, block-max metadata.

This is the structure Lucene builds inside ES for the reference's index
mapping (/root/reference/wapo/index_es.py:93-114): per-term sorted doc-id
lists, delta-encoded and byte-compressed, with per-block maxima for
block-max WAND pruning.

Layout per run — one segment chunk, a (bucket, doc_part, term) row —
as pure varbyte streams (little-endian 7-bit groups, MSB = continuation):
  doc_ids : varbyte(delta(doc_ids))         (strictly increasing; the
                                             first value absolute)
  tfs     : varbyte(tf - 1)                 (tf >= 1)
  dls     : varbyte(dl)                     (per-posting doc length)
  positions: per posting, varbyte(first position, then gaps) — every
             posting restarts, so no state crosses a posting boundary
Block metadata (block = block_size postings of one run):
  block_last_doc : int64[ n_blocks ]        (last doc id per block)
  block_max_tfn  : float32[ n_blocks ]      (max tf-norm upper bound per
                                             block, rounded UP one ulp so
                                             pruning is rank-safe)

No value carries state across a run either, so a column of runs is
coded as ONE stream: the writers (index_build's encoder, compaction's
rewrite, merge's remerge) decode a whole batch of chunks with one
vb_decode of their concatenated blobs (decode_runs — doc ids restored by
a segmented prefix sum), filter or re-sort the flat postings, and encode
all of them with one varbyte pass cut at the run boundaries
(encode_runs, pyarrow arrays with one element per run). The readers
(plans.search's per-doc_part closures) decode each part's rows the same
way, from an Arrow column in place on the driver. The one-run
calls (encode_postings, decode_postings, encode_positions,
decode_positions) are those functions on a single run.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# -- Catalyst (codegen) counterpart of the per-posting positions encoder --
# A run's positions blob is the posting-order concatenation of independent
# per-posting varbyte pieces (within one doc the first position is
# absolute and the rest are gaps). That makes the packing
# shuffle-commutable: each (doc, term) row can pack its own positions into
# binary BEFORE the segment shuffle — in whole-stage codegen, no Python —
# and the encoder decodes the joined pieces with the rest of its batch.
# At dim build scale this swaps the shuffled representation from
# array<int> (4+ bytes/position plus UnsafeArray headers) to ~1
# byte/position varbyte.


def _vb_hex(d):
    """bigint column (0 <= d < 2^35) -> hex string of its varbyte bytes
    (little-endian 7-bit groups, MSB = continuation), built from pure
    Catalyst expressions."""
    from pyspark.sql import functions as F

    parts = []
    for k in range(5):
        group = F.shiftright(d, 7 * k).bitwiseAND(F.lit(127))
        cont = F.when(d >= F.lit(1 << (7 * (k + 1))), F.lit(128)).otherwise(
            F.lit(0))
        byte = F.lpad(F.hex(group + cont), 2, "0")
        parts.append(byte if k == 0 else
                     F.when(d >= F.lit(1 << (7 * k)), byte).otherwise(F.lit("")))
    return F.concat(*parts)


def positions_pack_expr(pos):
    """array<int> strictly-increasing positions -> binary, bit-identical to
    ``encode_positions`` restricted to one posting (first absolute, rest
    deltas, varbyte). Values up to 2^35 are supported — beyond any real
    per-doc token count. Runs entirely inside codegen (hex assembly +
    one unhex), so the pre-shuffle pack costs no Python and the segment
    shuffle carries compressed bytes instead of int arrays."""
    from pyspark.sql import functions as F

    p = pos.cast("array<long>")
    prev = F.concat(F.array(F.lit(0).cast("long")),
                    F.slice(p, 1, F.greatest(F.size(p) - 1, F.lit(0))))
    deltas = F.zip_with(p, prev, lambda a, b: a - b)
    return F.unhex(F.array_join(F.transform(deltas, _vb_hex), ""))

# 7-bit groups: values >= 2^(7k) need more than k bytes; full uint64 needs 10
_THRESH = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def _offsets(counts) -> np.ndarray:
    """Run r of `counts` spans [offs[r], offs[r + 1]); offs[0] = 0."""
    offs = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    return offs


def _vb_bytes(values) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte encode -> (uint8 buffer, byte offsets: value i
    is buffer[offs[i]:offs[i + 1]], offs[0] = 0)."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    # exact byte count per value: 1 + number of thresholds <= value
    nb = 1 + np.searchsorted(_THRESH, a, side="right")
    offs = _offsets(nb)
    starts = offs[:-1]
    out = np.zeros(int(offs[-1]), dtype=np.uint8)
    for k in range(int(nb.max()) if a.size else 0):
        mask = nb > k
        byte = ((a[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[starts[mask] + k] = byte | cont
    return out, offs


def vb_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array.

    MSB of each byte = continuation (1 = more bytes follow). Little-endian
    7-bit groups.
    """
    return _vb_bytes(values)[0].tobytes()


def _vb_values(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """varbyte decode of a uint8 buffer -> (uint64 values, index of each
    value's last byte)."""
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty_like(ends)
    if ends.size:
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for k in range(int(lengths.max()) if ends.size else 0):
        mask = lengths > k
        vals[mask] |= (b[starts[mask] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * k)
    return vals, ends


def vb_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    return _vb_values(np.frombuffer(buf, dtype=np.uint8))[0]


def _joined(blobs) -> tuple[np.ndarray, np.ndarray]:
    """A column of blobs (None reads as empty) -> (their concatenation as
    uint8, byte offsets: blob r is [offs[r], offs[r + 1])). An Arrow
    binary column (an Arrow table's, as the driver reads segment rows)
    is read in place, with no copy of its bytes."""
    if isinstance(blobs, list) and len(blobs) == 1:
        # one run (the read path's per-chunk decode): no copy at all
        buf = np.frombuffer(blobs[0] or b"", np.uint8)
        return buf, np.array([0, buf.size], dtype=np.int64)
    if isinstance(blobs, pa.ChunkedArray):
        blobs = (blobs.chunk(0) if blobs.num_chunks == 1
                 else blobs.combine_chunks())
    arr = (blobs if isinstance(blobs, pa.Array)
           else pa.array(blobs, pa.large_binary(), from_pandas=True))
    n = len(arr)
    if arr.null_count == n:  # no row (or a null-typed column of nulls)
        return np.empty(0, np.uint8), np.zeros(n + 1, np.int64)
    if arr.null_count:  # a null's slot may span bytes: read it as empty
        arr = arr.fill_null(pa.scalar(b"", arr.type))
    width = np.dtype(np.int64 if pa.types.is_large_binary(arr.type)
                     else np.int32)
    offs = np.frombuffer(arr.buffers()[1], width, n + 1,
                         width.itemsize * arr.offset).astype(np.int64)
    data = arr.buffers()[2]
    buf = (np.frombuffer(data, np.uint8)[offs[0]:offs[-1]] if data is not None
           else np.empty(0, np.uint8))
    return buf, offs - offs[0]


def _blob_array(buf: np.ndarray, offs: np.ndarray) -> pa.Array:
    """uint8 buffer + byte offsets -> binary array, element r the bytes
    buf[offs[r]:offs[r + 1]] (no copy per element)."""
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), offs.size - 1,
        [None, pa.py_buffer(np.ascontiguousarray(offs, np.int64)),
         pa.py_buffer(np.ascontiguousarray(buf))])


def _cut(values, counts) -> pa.Array:
    """varbyte of `values` cut into runs of `counts` values each."""
    buf, offs = _vb_bytes(values)
    return _blob_array(buf, offs[_offsets(counts)])


def _segmented_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Running sum of `deltas` restarting at every run of `counts` values.
    One cumsum over all runs in uint64 (two's-complement wraparound),
    then each run's carried-in base subtracted: the difference is exact
    even where the sum across runs overflows, because every run's own
    sum fits int64."""
    cs = np.cumsum(deltas, dtype=np.uint64)
    if counts.size == 1:  # one run: nothing to subtract
        return cs.view(np.int64)
    base = np.concatenate((np.zeros(1, np.uint64), cs))[_offsets(counts)[:-1]]
    return (cs - np.repeat(base, counts)).view(np.int64)


def decode_runs(docs, tfs, dls) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                                         np.ndarray]:
    """Columns of per-run blobs (encode_runs' docs / tfs / dls) ->
    (doc_ids, tfs, dls, counts): every run's postings in run order,
    int64, run r holding counts[r] of them."""
    buf, offs = _joined(docs)
    deltas, ends = _vb_values(buf)
    counts = (np.array([ends.size]) if offs.size == 2  # one run
              else np.diff(np.searchsorted(ends, offs)))
    ids = _segmented_cumsum(deltas, counts)
    tf = _vb_values(_joined(tfs)[0])[0].astype(np.int64) + 1
    dl = _vb_values(_joined(dls)[0])[0].astype(np.int64)
    return ids, tf, dl, counts


def _block_meta(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    counts: np.ndarray, *, k1: float, b: float, avgdl: float,
                    block_size: int) -> tuple[pa.Array, pa.Array]:
    """(block_last, block_max_tfn) list arrays, one element per run: a run
    is cut into blocks of block_size postings; a block's bound is its max
    tf-norm as float32 rounded up one ulp, so it never underestimates."""
    counts = np.asarray(counts, dtype=np.int64)
    tfn = tf_norm(np.asarray(tfs, np.float64), np.asarray(dls, np.float64),
                  k1=k1, b=b, avgdl=avgdl)
    nb = -(-counts // block_size)
    first = _offsets(nb)
    run_lo = _offsets(counts)[:-1]
    lo = (np.repeat(run_lo, nb)
          + (np.arange(first[-1]) - np.repeat(first[:-1], nb)) * block_size)
    hi = np.minimum(lo + block_size, np.repeat(run_lo + counts, nb))
    last = np.asarray(doc_ids, np.int64)[hi - 1]
    # the blocks tile the postings in order, so reduceat's segments
    # [lo[i], lo[i + 1]) are exactly the blocks
    mx = (np.maximum.reduceat(tfn, lo) if lo.size
          else np.empty(0, np.float64))
    mx = np.nextafter(mx.astype(np.float32), np.float32(np.inf))
    offs = pa.array(first.astype(np.int32))
    return (pa.ListArray.from_arrays(offs, pa.array(last, pa.int64())),
            pa.ListArray.from_arrays(offs, pa.array(mx, pa.float32())))


def encode_runs(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                counts: np.ndarray, *, k1: float, b: float, avgdl: float,
                block_size: int) -> dict[str, pa.Array]:
    """Postings in runs (counts[r] of them in run r, doc ids strictly
    increasing within a run) -> the segment columns docs, tfs, dls,
    block_last and block_max: pyarrow arrays with one element per run.

    One varbyte pass per stream over every run, cut at the run
    boundaries. The tf-norm bound uses the BM25 saturation
    tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) — multiply by idf at query time.
    """
    ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    deltas = np.empty_like(ids)
    if ids.size:
        deltas[0] = ids[0]
        deltas[1:] = ids[1:] - ids[:-1]
    starts = _offsets(counts)[:-1][counts > 0]
    inner = np.ones(ids.size, dtype=bool)
    inner[starts] = False
    if (deltas[inner] <= 0).any():
        raise ValueError("doc_ids must be strictly increasing")
    deltas[starts] = ids[starts]
    last, mx = _block_meta(ids, tfs, dls, counts, k1=k1, b=b, avgdl=avgdl,
                           block_size=block_size)
    return {"docs": _cut(deltas.astype(np.uint64), counts),
            "tfs": _cut((tfs - 1).astype(np.uint64), counts),
            "dls": _cut(dls.astype(np.uint64), counts),
            "block_last": last, "block_max": mx}


def encode_positions_runs(flat_pos: np.ndarray, tfs: np.ndarray,
                          counts: np.ndarray) -> pa.Array:
    """Per-posting token positions -> one positions blob per run.

    `flat_pos` is the concatenation (posting order) of each posting's
    strictly increasing position list; `tfs` gives the per-posting list
    lengths (positions-per-doc == tf by construction) and `counts` the
    postings per run. Within each posting the positions are
    delta-encoded (first absolute, rest gaps); the per-posting
    boundaries are NOT stored — the decoder re-derives them from tfs,
    which the postings blob already carries. This is the Lucene
    positional posting shape ES stores for the reference's
    `term_vector: 'yes'` mapping (the reference's wapo/index_es.py:99).
    """
    flat_pos = np.asarray(flat_pos, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if flat_pos.size != int(tfs.sum()):
        raise ValueError("flat positions length must equal sum(tfs)")
    deltas = np.empty_like(flat_pos)
    if flat_pos.size:
        deltas[0] = flat_pos[0]
        deltas[1:] = flat_pos[1:] - flat_pos[:-1]
    first = _offsets(tfs)
    starts = first[:-1][tfs > 0]
    deltas[starts] = flat_pos[starts]  # absolute restart at each posting
    if (deltas < 0).any():
        raise ValueError("positions must be strictly increasing per doc")
    return _cut(deltas.astype(np.uint64), np.diff(first[_offsets(counts)]))


def decode_positions_runs(blobs, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions_runs over a column of runs' blobs ->
    flat int64 positions (len sum(tfs)), tfs the postings' tfs in run
    order: one decode, one segmented prefix sum over the postings."""
    deltas = _vb_values(_joined(blobs)[0])[0]
    return _segmented_cumsum(deltas, np.asarray(tfs, dtype=np.int64))


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    *, k1: float, b: float, avgdl: float,
                    block_size: int) -> tuple[bytes, bytes, bytes, np.ndarray, np.ndarray]:
    """One run of sorted postings -> (docs_blob, tfs_blob, dls_blob,
    block_last, block_max_tfn)."""
    enc = encode_runs(doc_ids, tfs, dls, [len(doc_ids)], k1=k1, b=b,
                      avgdl=avgdl, block_size=block_size)
    return (enc["docs"][0].as_py(), enc["tfs"][0].as_py(),
            enc["dls"][0].as_py(),
            enc["block_last"].values.to_numpy(),
            enc["block_max"].values.to_numpy())


def decode_postings(docs_blob: bytes, tfs_blob: bytes, dls_blob: bytes
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_postings -> (doc_ids int64, tfs int64, dls int64)."""
    return decode_runs([docs_blob], [tfs_blob], [dls_blob])[:3]


def encode_positions(flat_pos: np.ndarray, tfs: np.ndarray) -> bytes:
    """One run's positions -> its blob (encode_positions_runs)."""
    return encode_positions_runs(flat_pos, tfs, [len(tfs)])[0].as_py()


def pack_positions(flat_pos: np.ndarray, tfs: np.ndarray) -> pa.Array:
    """encode_positions cut per posting: element i holds posting i's
    positions, bit-identical to positions_pack_expr on its array (the
    driver-placed build's form of the pre-shuffle pack). Their
    posting-order concatenation is encode_positions(flat_pos, tfs)."""
    return encode_positions_runs(flat_pos, tfs, np.ones(len(tfs), np.int64))


def decode_positions(blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions -> flat int64 positions (len sum(tfs))."""
    return decode_positions_runs([blob], tfs)


def tf_norm(tfs: np.ndarray, dls: np.ndarray, *, k1: float, b: float,
            avgdl: float) -> np.ndarray:
    """BM25 tf saturation term (float64): tf*(k1+1)/(tf+k1*(1-b+b*dl/avgdl))."""
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def lucene_idf(n_docs: float, df: np.ndarray | float) -> np.ndarray | float:
    """ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
