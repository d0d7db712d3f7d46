"""Posting-list codec: delta + varbyte compression, block-max metadata.

This is the structure Lucene builds inside ES for the reference's index
mapping (/root/reference/wapo/index_es.py:93-114): per-term sorted doc-id
lists, delta-encoded and byte-compressed, with per-block maxima for
block-max WAND pruning. All encode/decode is vectorized numpy — bulk
operations over whole posting lists, no per-value Python in the hot path
beyond a <=9-iteration byte-position loop.

Layout per term (all little-endian-free, pure varbyte streams):
  doc_ids : varbyte(delta(doc_ids))         (doc_ids strictly increasing)
  tfs     : varbyte(tf - 1)                 (tf >= 1)
  dls     : varbyte(dl)                     (per-posting doc length)
Block metadata (block = block_size postings):
  block_last_doc : int64[ n_blocks ]        (last doc id per block)
  block_max_tfn  : float32[ n_blocks ]      (max tf-norm upper bound per
                                             block, rounded UP one ulp so
                                             pruning is rank-safe)
"""

from __future__ import annotations

import numpy as np

# -- Catalyst (codegen) counterpart of the per-posting positions encoder --
# The per-TERM positions blob is, by construction (encode_positions), the
# doc-order concatenation of per-POSTING independent varbyte runs: within
# one doc the first position is absolute and the rest are gaps, so no state
# crosses a posting boundary. That makes the packing shuffle-commutable:
# each (doc, term) row can pack its own positions into binary BEFORE the
# segment shuffle — in whole-stage codegen, no Python — and the encoder
# merely byte-joins the blobs in doc order. At dim build scale this swaps
# the shuffled representation from array<int> (4+ bytes/position plus
# UnsafeArray headers) to ~1 byte/position varbyte.


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


def vb_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array.

    MSB of each byte = continuation (1 = more bytes follow). Little-endian
    7-bit groups.
    """
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return b""
    # exact byte count per value: 1 + number of thresholds <= value
    nb = 1 + (a[:, None] >= _THRESH[None, :]).sum(axis=1)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_nb = int(nb.max())
    for k in range(max_nb):
        mask = nb > k
        byte = ((a[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[starts[mask] + k] = byte | cont
    return out.tobytes()


def vb_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for k in range(int(lengths.max())):
        mask = lengths > k
        vals[mask] |= (b[starts[mask] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * k)
    return vals


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    *, k1: float, b: float, avgdl: float,
                    block_size: int) -> tuple[bytes, bytes, bytes, np.ndarray, np.ndarray]:
    """Sorted postings -> (docs_blob, tfs_blob, dls_blob, block_last, block_max_tfn).

    tf-norm upper bound per block uses the BM25 tf saturation
    tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) — multiply by idf at query time.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    order_ok = doc_ids[:-1] < doc_ids[1:]
    if doc_ids.size > 1 and not bool(order_ok.all()):
        raise ValueError("doc_ids must be strictly increasing")
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)

    deltas = np.empty_like(doc_ids)
    if doc_ids.size:
        deltas[0] = doc_ids[0]
        deltas[1:] = np.diff(doc_ids)
    docs_blob = vb_encode(deltas.astype(np.uint64))
    tfs_blob = vb_encode((tfs - 1).astype(np.uint64))
    dls_blob = vb_encode(dls.astype(np.uint64))
    return (docs_blob, tfs_blob, dls_blob,
            *block_meta(doc_ids, tfs, dls, k1=k1, b=b, avgdl=avgdl,
                        block_size=block_size))


def block_meta(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
               *, k1: float, b: float, avgdl: float,
               block_size: int) -> tuple[np.ndarray, np.ndarray]:
    """(block_last, block_max_tfn) of sorted postings — encode_postings'
    block metadata, alone for a rewrite whose postings (so blobs) are
    unchanged but whose avgdl moved."""
    tfn = tf_norm(np.asarray(tfs, np.float64), np.asarray(dls, np.float64),
                  k1=k1, b=b, avgdl=avgdl)
    n = len(doc_ids)
    n_blocks = (n + block_size - 1) // block_size
    block_last = np.empty(n_blocks, dtype=np.int64)
    block_max = np.empty(n_blocks, dtype=np.float32)
    for i in range(n_blocks):
        lo, hi = i * block_size, min((i + 1) * block_size, n)
        block_last[i] = doc_ids[hi - 1]
        # round up one ulp so the float32 bound never underestimates
        block_max[i] = np.nextafter(
            np.float32(tfn[lo:hi].max()), np.float32(np.inf)
        )
    return block_last, block_max


def decode_postings(docs_blob: bytes, tfs_blob: bytes, dls_blob: bytes
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_postings -> (doc_ids int64, tfs int64, dls int64)."""
    deltas = vb_decode(docs_blob).astype(np.int64)
    doc_ids = np.cumsum(deltas)
    tfs = vb_decode(tfs_blob).astype(np.int64) + 1
    dls = vb_decode(dls_blob).astype(np.int64)
    return doc_ids, tfs, dls


def encode_positions(flat_pos: np.ndarray, tfs: np.ndarray) -> bytes:
    """Per-posting token positions -> one varbyte blob.

    `flat_pos` is the concatenation (doc order) of each posting's strictly
    increasing position list; `tfs` gives the per-posting list lengths
    (positions-per-doc == tf by construction). Within each doc the
    positions are delta-encoded (first absolute, rest gaps); the per-doc
    boundaries are NOT stored — the decoder re-derives them from tfs,
    which the postings blob already carries. This is the Lucene positional
    posting shape ES stores for the reference's `term_vector: 'yes'`
    mapping (/root/reference/wapo/index_es.py:99).
    """
    flat_pos = np.asarray(flat_pos, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if flat_pos.size != int(tfs.sum()):
        raise ValueError("flat positions length must equal sum(tfs)")
    if flat_pos.size == 0:
        return b""
    deltas = np.empty_like(flat_pos)
    deltas[0] = flat_pos[0]
    deltas[1:] = flat_pos[1:] - flat_pos[:-1]
    starts = np.r_[0, np.cumsum(tfs)[:-1]]
    deltas[starts] = flat_pos[starts]  # absolute restart at each doc
    if (deltas < 0).any():
        raise ValueError("positions must be strictly increasing per doc")
    return vb_encode(deltas.astype(np.uint64))


def pack_positions(flat_pos: np.ndarray, tfs: np.ndarray) -> list[bytes]:
    """encode_positions cut per posting: blob i holds posting i's
    positions, bit-identical to positions_pack_expr on its array (the
    driver-placed build's form of the pre-shuffle pack). Their
    doc-order concatenation is encode_positions(flat_pos, tfs)."""
    blob = encode_positions(flat_pos, tfs)
    # a varbyte value ends at the byte whose continuation bit is clear;
    # a posting ends with its tf-th value
    ends = np.flatnonzero((np.frombuffer(blob, np.uint8) & 0x80) == 0) + 1
    cut = np.r_[0, ends[np.cumsum(np.asarray(tfs, np.int64)) - 1]]
    return [blob[a:b] for a, b in zip(cut[:-1].tolist(), cut[1:].tolist())]


def decode_positions(blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions -> flat int64 positions (len sum(tfs)).

    Segmented prefix-sum: a full cumsum, then subtract each doc's carried-in
    base (the cumsum value just before the doc's first delta) — fully
    vectorized, no per-doc loop.
    """
    tfs = np.asarray(tfs, dtype=np.int64)
    deltas = vb_decode(blob).astype(np.int64)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    flat = np.cumsum(deltas)
    starts = np.r_[0, np.cumsum(tfs)[:-1]]
    bases = np.r_[0, flat[starts[1:] - 1]] if starts.size > 1 else np.zeros(1, np.int64)
    return flat - np.repeat(bases, tfs)


def tf_norm(tfs: np.ndarray, dls: np.ndarray, *, k1: float, b: float,
            avgdl: float) -> np.ndarray:
    """BM25 tf saturation term (float64): tf*(k1+1)/(tf+k1*(1-b+b*dl/avgdl))."""
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def lucene_idf(n_docs: float, df: np.ndarray | float) -> np.ndarray | float:
    """ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
