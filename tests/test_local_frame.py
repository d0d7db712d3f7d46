"""LocalFrame: a driver regime's result, read without a JVM call.

Parity with the frame the driver regimes built before it — an Arrow
table sent to the JVM by createDataFrame, a local relation — is the
contract: the same rows, types, dtypes, columns, schema and count, and
the same answer when a caller composes it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newssearchengine_spark.plans.search import (MANY_SCHEMA,
                                                 PHRASE_CAND_SCHEMA,
                                                 RANKED_SCHEMA, TOPK_SCHEMA,
                                                 LocalFrame)

NAN = float("nan")
CASES = {
    "ranked": (RANKED_SCHEMA, {"rank": [0, 1, 2], "doc_id": [9, 4, 7],
                               "score": [2.5, NAN, 1.25]}),
    "topk": (TOPK_SCHEMA, {"doc_id": [9, 4, 7], "score": [NAN, 3.0, 0.5]}),
    "phrase_cand": (PHRASE_CAND_SCHEMA, {"doc_id": [3, 8, 11],
                                         "occ": [1, 2, 1],
                                         "dl": [40, 12, 7]}),
    "msearch": (MANY_SCHEMA, {"query_id": ["0", "0", "2"],
                              "rank": [0, 1, 0], "doc_id": [5, 9, 5],
                              "score": [1.5, 1.0, NAN]}),
}


def _arrow_frame(spark, pdf, schema):
    """The frame the driver regimes built before LocalFrame."""
    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, preserve_index=False), schema)


def _composed(df):
    """filter + select + a broadcast self-join, collected in row order."""
    keys = df.filter(F.col("doc_id") > 4).select("doc_id").distinct()
    return sorted(tuple(r) for r in
                  df.join(F.broadcast(keys), "doc_id").collect())


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("case", list(CASES))
def test_local_frame_matches_arrow_frame(spark, case, empty,
                                         py4j_commands):
    schema, cols = CASES[case]
    # an empty driver result is an untyped zero-row pandas frame
    pdf = pd.DataFrame(columns=list(cols)) if empty else pd.DataFrame(cols)
    ref = _arrow_frame(spark, pdf, schema)
    lf = LocalFrame(spark, pdf, schema)
    assert isinstance(lf, DataFrame)

    n = py4j_commands()
    rows, got_pdf = lf.collect(), lf.toPandas()
    columns, struct, count = lf.columns, lf.schema, lf.count()
    assert py4j_commands() == n

    want = ref.collect()
    assert rows == want
    assert [r.__fields__ for r in rows] == [r.__fields__ for r in want]
    assert ([[type(v) for v in r] for r in rows]
            == [[type(v) for v in r] for r in want])
    if not empty and "score" in cols:  # NaN reads as None, like a null
        assert None in [r["score"] for r in rows]
    want_pdf = ref.toPandas()
    assert got_pdf.dtypes.to_dict() == want_pdf.dtypes.to_dict()
    pd.testing.assert_frame_equal(got_pdf, want_pdf)
    assert columns == ref.columns
    assert struct == ref.schema
    assert count == ref.count()
    assert _composed(lf) == _composed(ref)


def test_local_frame_rows_are_its_own(spark):
    """toPandas() hands out a copy, and the frame keeps the schema's
    column order and dtypes whatever the input frame's order, index or
    integer width."""
    pdf = pd.DataFrame({"score": [1.0, 2.0], "doc_id": np.int32([3, 4]),
                        "rank": [1, 0]}, index=[7, 5])
    lf = LocalFrame(spark, pdf, RANKED_SCHEMA)
    out = lf.toPandas()
    out.loc[0, "score"] = -1.0
    assert lf.toPandas()["score"].tolist() == [1.0, 2.0]
    assert list(out.columns) == ["rank", "doc_id", "score"]
    assert list(out.index) == [0, 1]
    assert lf.toPandas()["doc_id"].dtype == np.int64


def test_local_frame_builds_its_jvm_frame_once_under_threads(
        spark, monkeypatch):
    """Threads that compose one LocalFrame at once share ONE JVM frame:
    `_jdf` is built under the frame's lock."""
    import sys
    import threading

    made = []
    orig = type(spark).createDataFrame

    def counting(self, *args, **kwargs):
        made.append(1)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(type(spark), "createDataFrame", counting)
    lf = LocalFrame(spark, pd.DataFrame(CASES["topk"][1]), TOPK_SCHEMA)
    barrier = threading.Barrier(8)
    seen = []

    def compose():
        barrier.wait(timeout=30)
        seen.append(lf._jdf)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=compose) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 8 and all(j is seen[0] for j in seen)
    assert len(made) == 1
    assert lf.filter(F.col("doc_id") > 4).count() == 2


@pytest.mark.parametrize("k", [0, 3, 10, 100])
def test_cut_topk_equals_pandas_sort(spark, k):
    """The driver placement's top-k cut ranks with one np.lexsort in the
    order a stable pandas sort gives — score desc, doc_id asc, a NaN
    score last — over ties, -0.0/0.0 and NaNs, into a ranked
    LocalFrame."""
    from types import SimpleNamespace

    from newssearchengine_spark.plans.search import SegmentIndex

    rng = np.random.default_rng(k)
    score = rng.choice([2.5, 1.0, 0.0, -0.0, -1.5, NAN], size=40)
    cand = pd.DataFrame({"doc_id": rng.permutation(40).astype(np.int64),
                         "score": score})
    want = (cand.sort_values(["score", "doc_id"], ascending=[False, True],
                             kind="mergesort").head(k))
    out = SegmentIndex._cut_topk(SimpleNamespace(spark=spark), cand, k)
    assert isinstance(out, LocalFrame)
    got = out.toPandas()
    assert list(got.columns) == ["rank", "doc_id", "score"]
    assert got["rank"].tolist() == list(range(len(want)))
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert np.array_equal(got["score"].to_numpy(), want["score"].to_numpy(),
                          equal_nan=True)


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("case", ["ranked", "msearch"])
def test_local_frame_from_numpy_columns_equals_pandas(spark, case, empty,
                                                      py4j_commands):
    """The driver placement hands LocalFrame typed numpy columns; the
    frame equals one built from the same rows as a pandas frame: rows
    (NaN read as None), toPandas() dtypes, count, columns, schema and a
    composed join."""
    schema, cols = CASES[case]
    pdf = pd.DataFrame(cols).iloc[:0] if empty else pd.DataFrame(cols)
    arrays = {c: pdf[c].to_numpy(object if c == "query_id" else None)
              for c in pdf.columns}
    a, b = LocalFrame(spark, arrays, schema), LocalFrame(spark, pdf, schema)
    n = py4j_commands()
    got = (a.collect(), a.toPandas(), a.count(), a.columns, a.schema)
    want = (b.collect(), b.toPandas(), b.count(), b.columns, b.schema)
    assert py4j_commands() == n
    assert got[0] == want[0] and len(got[0]) == (0 if empty else 3)
    if not empty:
        assert None in [r["score"] for r in got[0]]
    assert got[1].dtypes.to_dict() == want[1].dtypes.to_dict()
    pd.testing.assert_frame_equal(got[1], want[1])
    assert got[2:] == want[2:]
    assert _composed(a) == _composed(b)


def test_local_frame_of_numpy_columns_builds_jvm_frame_once(spark):
    """Eight threads composing one LocalFrame of numpy columns at once
    share one JVM frame, and its rows are the frame's own."""
    import sys
    import threading

    schema, cols = CASES["msearch"]
    lf = LocalFrame(spark, {c: np.asarray(v, object if c == "query_id"
                                          else None)
                            for c, v in cols.items()}, schema)
    barrier = threading.Barrier(8)
    seen = []

    def compose():
        barrier.wait(timeout=30)
        seen.append(lf._jdf)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=compose) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 8 and all(j is seen[0] for j in seen)
    assert (sorted(tuple(r) for r in lf.select("*").collect())
            == sorted(tuple(r) for r in lf.collect()))
