"""The resident index reader: the three tables a driver-placed request
reads — the term dictionary, the segment rows and the doc store — held
in driver memory, so a warm request opens no parquet file.

Lucene serves from process-local immutable segments behind an in-memory
terms index; this is that shape for an index small enough to be
rewritten on the driver (SegmentIndex._resident decides). The reader is
built completely and never changes afterwards, so threads share it
without a lock.

- Dictionary: term_stats as one term-sorted Arrow table (term, df, cf);
  a lookup is a search over the term column's UTF-8 bytes (_Utf8).
- Segments: one Arrow table, positions included, sorted by (term,
  doc_part) — the order a driver build writes each bucket file in. A
  request searches each term's row range the same way and takes the
  rows, in (doc_part, term) order, as one Arrow table: the scorers
  decode its blob columns in place, one part at a time.
- Doc store: one Arrow table, filtered per request with the same
  pyarrow expression the parquet read pushes down.

Every table stays in Arrow buffers, plus an 8-byte search key per
dictionary term and segment row: no Python object per term or row.
Terms compare by UTF-8 byte, as Arrow and Spark sort them.
"""

from __future__ import annotations

import os
from bisect import bisect_left, bisect_right

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

from .index_build import SEGMENT_ARROW, TERM_STATS_ARROW


def _load(path: str, schema: pa.Schema | None) -> pa.Table | None:
    """Every row of a table directory, partition columns dropped when
    `schema` names the file columns; an empty table of `schema` (None
    without one) when the directory is absent or holds no file (an
    index built from no document)."""
    if os.path.isdir(path):
        data = ds.dataset(path, format="parquet", partitioning="hive")
        if data.files:
            return data.to_table(
                columns=None if schema is None else schema.names)
    return None if schema is None else schema.empty_table()


class _Utf8:
    """A sorted Arrow string column, searched by UTF-8 bytes: a
    np.searchsorted over each value's first 8 bytes (as a big-endian
    uint64, zero-padded) narrows a term to the values sharing them, and
    `bisect` over the bytes of those few values finishes. 8 B per value
    besides the column; no Python object per value."""

    def __init__(self, col: pa.ChunkedArray):
        arr = col.combine_chunks()
        n = len(arr)
        _, off, data = arr.buffers()
        self._off = (np.frombuffer(off, np.int32)[
            arr.offset:arr.offset + n + 1] if n else np.zeros(1, np.int32))
        self._data = memoryview(b"" if data is None else data)
        buf = np.frombuffer(self._data, np.uint8)
        if not buf.size:
            buf = np.zeros(1, np.uint8)
        self._keys = np.zeros(n, np.uint64)
        for k in range(8):
            at = self._off[:-1] + k
            byte = np.where(at < self._off[1:],
                            buf[np.minimum(at, buf.size - 1)], 0)
            self._keys |= byte.astype(np.uint64) << np.uint64(56 - 8 * k)

    def __len__(self) -> int:
        return self._off.size - 1

    def __getitem__(self, i: int) -> bytes:
        return bytes(self._data[self._off[i]:self._off[i + 1]])

    def ranges(self, terms: list[str]) -> list[tuple[int, int]]:
        """The [lo, hi) row range holding each term."""
        keys = [t.encode() for t in terms]
        q = np.array([int.from_bytes(k[:8].ljust(8, b"\0"), "big")
                      for k in keys], np.uint64)
        out = []
        for k, lo, hi in zip(keys,
                             np.searchsorted(self._keys, q, "left").tolist(),
                             np.searchsorted(self._keys, q, "right").tolist()):
            lo = bisect_left(self, k, lo, hi)
            out.append((lo, bisect_right(self, k, lo, hi)))
        return out


class ResidentReader:
    """An index's dictionary, segment rows and doc store in memory."""

    def __init__(self, index_dir: str):
        self.dictionary = _load(
            os.path.join(index_dir, "term_stats"),
            pa.schema([f for f in TERM_STATS_ARROW if f.name != "bucket"]),
        ).sort_by("term").combine_chunks()
        self._terms = _Utf8(self.dictionary.column("term"))
        self._df = self.dictionary.column("df").to_numpy()
        self._cf = self.dictionary.column("cf").to_numpy()
        self.segments = _load(
            os.path.join(index_dir, "segments"),
            pa.schema([f for f in SEGMENT_ARROW if f.name != "bucket"]),
        ).sort_by([("term", "ascending"),
                   ("doc_part", "ascending")]).combine_chunks()
        self._seg_terms = _Utf8(self.segments.column("term"))
        self._seg_parts = self.segments.column("doc_part").to_numpy()
        self.store = _load(os.path.join(index_dir, "doc_store"), None)

    def term_stats(self, terms) -> dict[str, tuple[int, int]]:
        """(df, cf) per term, (0, 0) for a term not in the dictionary."""
        terms = list(terms)
        return {t: (int(self._df[lo]), int(self._cf[lo])) if hi > lo
                else (0, 0)
                for t, (lo, hi) in zip(terms, self._terms.ranges(terms))}

    def prefix_terms(self, prefix: str, limit: int) -> list[str]:
        """The dictionary's terms starting with `prefix`, by df desc then
        term, at most `limit`. They are one range of the sorted terms:
        no UTF-8 sequence holds the byte 0xFF, so prefix + 0xFF sorts
        after every term that extends the prefix."""
        p = prefix.encode()
        lo = bisect_left(self._terms, p)
        hi = bisect_left(self._terms, p + b"\xff", lo)
        order = np.lexsort((np.arange(hi - lo), -self._df[lo:hi]))
        return [self._terms[lo + i].decode()
                for i in order[:max(limit, 0)].tolist()]

    def segment_rows(self, terms, columns) -> pa.Table:
        """The `columns` of every segment row of `terms`, in (doc_part,
        term) order."""
        spans = self._seg_terms.ranges(sorted(set(terms)))
        idx = np.concatenate([np.arange(lo, hi, dtype=np.int64)
                              for lo, hi in spans] + [np.empty(0, np.int64)])
        # the spans are term-sorted, so a stable sort by part keeps term
        # order within each part
        idx = idx[np.argsort(self._seg_parts[idx], kind="stable")]
        return self.segments.select(list(columns)).take(idx)
