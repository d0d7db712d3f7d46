"""Posting codec: varbyte/delta roundtrips + block-max bound safety, and
the run-batched encode/decode equal to a per-run reference byte for
byte."""

from __future__ import annotations

import numpy as np
import pytest

from newssearchengine_spark.functions.codec import (
    decode_positions,
    decode_postings,
    encode_positions,
    encode_postings,
    tf_norm,
    vb_decode,
    vb_encode,
)


@pytest.mark.parametrize("seed", range(5))
def test_varbyte_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    for _ in range(20):
        bits = int(rng.integers(1, 64))
        n = int(rng.integers(0, 3000))
        vals = rng.integers(0, 1 << bits, size=n).astype(np.uint64)
        assert np.array_equal(vb_decode(vb_encode(vals)), vals)


def test_varbyte_edge_values():
    edge = np.array(
        [0, 1, 127, 128, 16383, 16384, 1 << 35, 1 << 56, (1 << 63) - 1,
         (1 << 64) - 1],
        dtype=np.uint64,
    )
    assert np.array_equal(vb_decode(vb_encode(edge)), edge)
    assert vb_encode(np.empty(0, dtype=np.uint64)) == b""
    assert vb_decode(b"").size == 0


def test_postings_roundtrip_and_blockmax():
    rng = np.random.default_rng(7)
    ids = np.unique(rng.integers(0, 10**12, size=5000)).astype(np.int64)
    tfs = rng.integers(1, 900, size=ids.size)
    dls = rng.integers(1, 20000, size=ids.size)
    k1, b, avgdl, bs = 1.2, 0.75, 432.1, 128
    d, t, l, blast, bmax = encode_postings(ids, tfs, dls, k1=k1, b=b,
                                           avgdl=avgdl, block_size=bs)
    i2, t2, l2 = decode_postings(d, t, l)
    assert np.array_equal(i2, ids)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)
    tfn = tf_norm(tfs.astype(float), dls.astype(float), k1=k1, b=b, avgdl=avgdl)
    n_blocks = (ids.size + bs - 1) // bs
    assert blast.size == bmax.size == n_blocks
    for i in range(n_blocks):
        lo, hi = i * bs, min((i + 1) * bs, ids.size)
        assert blast[i] == ids[hi - 1]
        assert bmax[i] >= tfn[lo:hi].max()  # bound never underestimates


def test_unsorted_doc_ids_rejected():
    with pytest.raises(ValueError):
        encode_postings(np.array([3, 2]), np.array([1, 1]), np.array([5, 5]),
                        k1=1.2, b=0.75, avgdl=10.0, block_size=4)


# ---- property-based round-trip (hypothesis) --------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    postings = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),   # doc id gaps well past 32-bit
            st.integers(min_value=1, max_value=10_000),  # tf
            st.integers(min_value=1, max_value=100_000), # dl
        ),
        min_size=0, max_size=300,
    )

    @settings(max_examples=200, deadline=None)
    @given(postings, st.integers(min_value=1, max_value=64))
    def test_roundtrip_property(rows, block_size):
        """encode->decode is the identity for ANY strictly-increasing id
        list, and every block's max tf-norm bound is >= the true per-row
        tf-norm in that block (rank-safety of WAND pruning)."""
        import numpy as np

        from newssearchengine_spark.functions.codec import (
            decode_postings, encode_postings, tf_norm,
        )

        ids = np.cumsum(np.array([r[0] + 1 for r in rows], dtype=np.int64))
        tfs = np.array([r[1] for r in rows], dtype=np.int64)
        dls = np.array([r[2] for r in rows], dtype=np.int64)
        k1, b, avgdl = 1.2, 0.75, 37.5
        docs_b, tfs_b, dls_b, blast, bmax = encode_postings(
            ids, tfs, dls, k1=k1, b=b, avgdl=avgdl, block_size=block_size
        )
        out_ids, out_tfs, out_dls = decode_postings(docs_b, tfs_b, dls_b)
        assert np.array_equal(out_ids, ids)
        assert np.array_equal(out_tfs, tfs)
        assert np.array_equal(out_dls, dls)
        if ids.size:
            tfn = tf_norm(tfs.astype(np.float64), dls.astype(np.float64),
                          k1=k1, b=b, avgdl=avgdl)
            # block index of each row
            bi = np.searchsorted(blast, ids, "left")
            # float32 storage rounds UP at encode: bound must still hold
            assert np.all(np.asarray(bmax, dtype=np.float64)[bi] >= tfn)  # exact: encode rounds up
            assert int(blast[-1]) == int(ids[-1])


@pytest.mark.parametrize("seed", range(3))
def test_positions_roundtrip_random(seed):
    from newssearchengine_spark.functions.codec import (decode_positions,
                                                        encode_positions)

    rng = np.random.default_rng(100 + seed)
    for _ in range(30):
        n_docs = int(rng.integers(0, 40))
        lists = [
            np.sort(rng.choice(5000, size=int(rng.integers(1, 30)),
                               replace=False)).astype(np.int64)
            for _ in range(n_docs)
        ]
        tfs = np.array([len(x) for x in lists], dtype=np.int64)
        flat = (np.concatenate(lists) if lists
                else np.empty(0, dtype=np.int64))
        blob = encode_positions(flat, tfs)
        assert np.array_equal(decode_positions(blob, tfs), flat)


def test_positions_length_mismatch_rejected():
    from newssearchengine_spark.functions.codec import encode_positions

    with pytest.raises(ValueError):
        encode_positions(np.array([0, 1, 2]), np.array([2]))


@pytest.mark.parametrize("seed", range(2))
def test_positions_pack_expr_matches_numpy(spark, seed):
    """The pre-shuffle Catalyst packer is bit-identical to
    encode_positions: per row it must produce that row's varbyte run
    (first position absolute, rest gaps), and the doc-order byte-join of
    rows equals the per-term blob the segment encoder used to build
    post-shuffle. Values straddle every varbyte width up to 2^35."""
    from pyspark.sql import functions as F

    from newssearchengine_spark.functions.codec import (decode_positions,
                                                        encode_positions,
                                                        positions_pack_expr)

    rng = np.random.default_rng(2000 + seed)
    lists = [
        np.sort(rng.choice(int(hi), size=int(rng.integers(1, 25)),
                           replace=False)).astype(np.int64)
        for hi in (64, 5000, 1 << 20, (1 << 35) - 1)
        for _ in range(15)
    ]
    lists.append(np.array([0], dtype=np.int64))  # chr(0)/first-abs-0 edge
    rows = [(i, x.tolist()) for i, x in enumerate(lists)]
    df = spark.createDataFrame(rows, "row_id long, positions array<long>")
    got = {
        r["row_id"]: bytes(r["blob"])
        for r in df.select(
            "row_id",
            positions_pack_expr(F.col("positions")).alias("blob"),
        ).collect()
    }
    for i, x in enumerate(lists):
        want = encode_positions(x, np.array([len(x)], dtype=np.int64))
        assert got[i] == want, i
    # concat property: joined per-row blobs == whole-list encoding
    tfs = np.array([len(x) for x in lists], dtype=np.int64)
    joined = b"".join(got[i] for i in range(len(lists)))
    assert joined == encode_positions(np.concatenate(lists), tfs)
    assert np.array_equal(decode_positions(joined, tfs), np.concatenate(lists))


# ---- the run-batched codec against a per-run reference ---------------------

def _vb_py(values) -> bytes:
    """Pure-Python varbyte: the byte-for-byte reference."""
    out = bytearray()
    for v in values:
        v = int(v)
        while v >= 0x80:
            out.append(v & 0x7F | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def _ref_postings(ids, tfs, dls, *, k1, b, avgdl, block_size):
    """One run encoded posting by posting and block by block: (docs, tfs,
    dls, block_last, block_max)."""
    deltas = [int(ids[0])] + [int(y - x) for x, y in zip(ids, ids[1:])] \
        if len(ids) else []
    tfn = tf_norm(np.asarray(tfs, np.float64), np.asarray(dls, np.float64),
                  k1=k1, b=b, avgdl=avgdl)
    last, mx = [], []
    for lo in range(0, len(ids), block_size):
        hi = min(lo + block_size, len(ids))
        last.append(int(ids[hi - 1]))
        mx.append(np.nextafter(np.float32(tfn[lo:hi].max()),
                               np.float32(np.inf)))
    return (_vb_py(deltas), _vb_py(t - 1 for t in tfs), _vb_py(dls), last,
            np.array(mx, dtype=np.float32))


def _ref_positions(lists) -> bytes:
    """One run's positions: per posting, first absolute then gaps."""
    return b"".join(_vb_py([int(p[0])] + np.diff(p).tolist()) for p in lists)


def _draw_runs(rng, dfs, id_hi, tf_hi):
    """One run of postings per df: distinct sorted ids below id_hi (a
    small bound widens to 2 x df), tfs in [1, tf_hi], doc lengths."""
    runs = []
    for df in dfs:
        if id_hi < 1 << 20:
            ids = rng.choice(max(id_hi, 2 * df), size=df, replace=False)
        else:
            ids = np.unique(rng.integers(0, id_hi, size=df))
        ids = np.sort(ids).astype(np.int64)
        runs.append((ids, rng.integers(1, tf_hi + 1, size=ids.size),
                     rng.integers(0, 50_000, size=ids.size)))
    return runs


RUN_SHAPES = [
    # (block_size, dfs per run, id bound, tf bound)
    (4, [0], 100, 3),
    (4, [1], 100, 3),
    (8, [0, 1, 8, 9, 24, 0], 1 << 40, 1000),
    (128, [128, 129, 384, 1], 1 << 40, 1000),
    (16, [5, 0, 0, 17, 3], 1 << 20, 1),
]


@pytest.mark.parametrize("shape", range(len(RUN_SHAPES)))
def test_encode_runs_equal_per_run_reference(shape):
    from newssearchengine_spark.functions.codec import decode_runs, encode_runs

    bs, dfs, id_hi, tf_hi = RUN_SHAPES[shape]
    rng = np.random.default_rng(900 + shape)
    runs = _draw_runs(rng, dfs, id_hi, tf_hi)
    counts = np.array([r[0].size for r in runs], np.int64)
    flat = [np.concatenate([r[k] for r in runs]) for k in range(3)]
    k1, b, avgdl = 1.2, 0.75, 321.5
    enc = encode_runs(*flat, counts, k1=k1, b=b, avgdl=avgdl, block_size=bs)
    assert all(len(a) == len(runs) for a in enc.values())
    for r, (ids, tfs, dls) in enumerate(runs):
        want = _ref_postings(ids, tfs, dls, k1=k1, b=b, avgdl=avgdl,
                             block_size=bs)
        assert enc["docs"][r].as_py() == want[0]
        assert enc["tfs"][r].as_py() == want[1]
        assert enc["dls"][r].as_py() == want[2]
        assert enc["block_last"][r].as_py() == want[3]
        got_max = enc["block_max"][r].values.to_numpy()
        # bit-equal to the per-block loop, and never below the true max
        assert np.array_equal(got_max.view(np.uint32), want[4].view(np.uint32))
        tfn = tf_norm(tfs.astype(np.float64), dls.astype(np.float64),
                      k1=k1, b=b, avgdl=avgdl)
        for i, m in enumerate(got_max):
            assert float(m) >= tfn[i * bs:(i + 1) * bs].max()
    ids, tfs, dls, got_counts = decode_runs(enc["docs"].to_pylist(),
                                            enc["tfs"].to_pylist(),
                                            enc["dls"].to_pylist())
    assert np.array_equal(got_counts, counts)
    for got, want in zip((ids, tfs, dls), flat):
        assert got.dtype == np.int64 and np.array_equal(got, want)


def test_decode_runs_prefix_sum_wraps_exactly():
    """Every run's first id is absolute, so the one cumsum across runs
    overflows int64 here (3 x ~2^62); subtracting each run's carried-in
    base must still give the exact ids."""
    from newssearchengine_spark.functions.codec import decode_runs, encode_runs

    top = (1 << 63) - 1
    runs = [np.array([top - 10, top - 3, top], np.int64),
            np.array([1 << 62, (1 << 62) + 1], np.int64),
            np.array([top - 1], np.int64),
            np.array([0, 5], np.int64)]
    ids = np.concatenate(runs)
    counts = np.array([r.size for r in runs])
    ones = np.ones(ids.size, np.int64)
    enc = encode_runs(ids, ones, ones, counts, k1=1.2, b=0.75, avgdl=1.0,
                      block_size=2)
    got, _, _, got_counts = decode_runs(enc["docs"], enc["tfs"], enc["dls"])
    assert np.array_equal(got, ids) and np.array_equal(got_counts, counts)
    for r, run in enumerate(runs):
        assert decode_postings(enc["docs"][r].as_py(), enc["tfs"][r].as_py(),
                               enc["dls"][r].as_py())[0].tolist() == run.tolist()


def test_encode_runs_rejects_unsorted_run():
    from newssearchengine_spark.functions.codec import encode_runs

    ones = np.ones(4, np.int64)
    # a drop in id across a run boundary is fine, inside a run is not
    encode_runs(np.array([5, 9, 1, 2]), ones, ones, [2, 2], k1=1.2, b=0.75,
                avgdl=1.0, block_size=2)
    with pytest.raises(ValueError):
        encode_runs(np.array([5, 9, 9, 12]), ones, ones, [1, 3], k1=1.2,
                    b=0.75, avgdl=1.0, block_size=2)


@pytest.mark.parametrize("seed", range(3))
def test_positions_runs_equal_per_run_reference(seed):
    """Positions of several runs (empty runs among them) coded as one
    stream equal each run's own blob, and decode back across runs."""
    from newssearchengine_spark.functions.codec import (
        decode_positions_runs, encode_positions_runs, pack_positions)

    rng = np.random.default_rng(950 + seed)
    runs = []
    for _ in range(int(rng.integers(1, 9))):
        n_post = int(rng.choice([0, 1, int(rng.integers(2, 12))]))
        runs.append([np.sort(rng.choice(int(hi), size=int(rng.integers(1, 40)),
                                        replace=False)).astype(np.int64)
                     for hi in rng.choice([64, 5000, 1 << 33], size=n_post)])
    lists = [p for run in runs for p in run]
    tfs = np.array([p.size for p in lists], np.int64)
    flat = np.concatenate(lists) if lists else np.empty(0, np.int64)
    counts = np.array([len(run) for run in runs], np.int64)
    blobs = encode_positions_runs(flat, tfs, counts)
    assert blobs.to_pylist() == [_ref_positions(run) for run in runs]
    assert np.array_equal(decode_positions_runs(blobs.to_pylist(), tfs), flat)
    assert pack_positions(flat, tfs).to_pylist() == \
        [_ref_positions([p]) for p in lists]
    for run, blob in zip(runs, blobs.to_pylist()):
        t = np.array([p.size for p in run], np.int64)
        want = np.concatenate(run) if run else np.empty(0, np.int64)
        assert np.array_equal(decode_positions(blob, t), want)
        assert encode_positions(want, t) == blob


# ---- the read path's part-wide decode against the per-row decode ----------

def _draw_part(rng, dfs, block_size=8, doc_range=1 << 20):
    """One doc_part's segment rows as a pandas frame in random row order:
    a term per df, its postings and positions encoded per row. A df of 0
    is a degenerate row with empty blobs and a None positions blob."""
    import pandas as pd

    from newssearchengine_spark.functions.codec import encode_postings

    rows = []
    for i, (ids, tfs, dls) in enumerate(_draw_runs(rng, dfs, doc_range, 4)):
        lists = [np.sort(rng.choice(200, size=int(t), replace=False))
                 for t in tfs]
        if ids.size:
            docs, tb, db, last, mx = encode_postings(
                ids, tfs, dls, k1=1.2, b=0.75, avgdl=40.0,
                block_size=block_size)
            pos = _ref_positions(lists)
        else:
            docs = tb = db = b""
            last, mx = np.empty(0, np.int64), np.empty(0, np.float32)
            pos = None
        rows.append({"doc_part": 3, "term": f"t{i:02d}", "docs": docs,
                     "tfs": tb, "dls": db, "block_last": last,
                     "block_max": mx, "positions": pos})
    cols = ["doc_part", "term", "docs", "tfs", "dls", "block_last",
            "block_max", "positions"]
    return pd.DataFrame(rows, columns=cols).iloc[rng.permutation(len(rows))]


PART_SHAPES = [
    [],                       # zero rows
    [1],                      # one row, df 1
    [8],                      # df at block_size
    [1, 7, 8, 9, 17, 24],     # across block_size
    [5, 0, 1, 0, 30],         # degenerate empty rows among them
    [int(d) for d in np.random.default_rng(7).integers(1, 60, size=12)],
]


def _arrow_forms(pdf):
    """The same rows as the read path's Arrow inputs: a table, a sliced
    table (arrays with a non-zero offset) and large_binary blobs."""
    import pyarrow as pa

    t = pa.Table.from_pandas(pdf, preserve_index=False)
    sliced = pa.concat_tables([t.slice(0, min(2, len(t))), t]).combine_chunks()
    big = t.cast(pa.schema([
        pa.field(f.name, pa.large_binary()) if pa.types.is_binary(f.type)
        else f for f in t.schema]))
    return [t, sliced.slice(min(2, len(t))), big]


@pytest.mark.parametrize("shape", range(len(PART_SHAPES)))
def test_part_decode_equals_per_row_decode(shape):
    """A part's one-pass decode (_Part: decode_runs over the blob
    columns, decode_positions_runs over positions) gives each term
    exactly its row's decode_postings / decode_positions, from a pandas
    frame and from Arrow tables (sliced and large_binary too)."""
    from newssearchengine_spark.functions.codec import decode_runs
    from newssearchengine_spark.plans.search import _Part

    rng = np.random.default_rng(970 + shape)
    pdf = _draw_part(rng, PART_SHAPES[shape])
    want = {}
    for r in pdf.itertuples(index=False):
        ids, tfs, dls = decode_postings(r.docs, r.tfs, r.dls)
        want[r.term] = (ids, tfs, dls,
                        decode_positions(r.positions or b"", tfs))
    for rows in [pdf] + _arrow_forms(pdf):
        part = _Part(rows, positions=True)
        assert part.terms == sorted(want)
        assert part.ids.dtype == part.tfs.dtype == np.int64
        for t, (ids, tfs, dls, pos) in want.items():
            s = part.span(t)
            assert np.array_equal(part.ids[s], ids)
            assert np.array_equal(part.tfs[s], tfs)
            assert np.array_equal(part.dls[s], dls)
            assert np.array_equal(part.positions(t), pos)
        # the column decode itself, in the rows' own order
        ids, tfs, dls, counts = decode_runs(rows["docs"], rows["tfs"],
                                            rows["dls"])
        terms = list(pdf["term"])
        assert counts.tolist() == [want[t][0].size for t in terms]
        assert np.array_equal(ids, np.concatenate(
            [want[t][0] for t in terms] + [np.empty(0, np.int64)]))
