"""Write placement: builds, compactions and merges whose volume fits
SEARCH_DRIVER_CAP run on the driver (index_build.write_on_driver) and
must write what the Spark plans write — every table's Spark-visible
schema and rows, stats.json and the manifests — within a Spark-job
budget (a build ≤ 2 jobs, 0 from a local relation; compaction and merge
0), and a failed driver write must leave readers the previous table or
none."""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from newssearchengine_spark.config import IndexConfig, news_analyzer
from newssearchengine_spark.datagen import source_files
from newssearchengine_spark.plans import index_build, search
from newssearchengine_spark.plans.delete import compact_index, delete_docs
from newssearchengine_spark.plans.index_build import build_index, write_table
from newssearchengine_spark.plans.merge import merge_indexes

SCHEMA = "doc_id bigint, lang string, content string"
# null, empty and non-ASCII content (the last has ASCII tokens too)
SPECIAL = [None, "", "Café naïve Straße 東京 getÜser KelvinK listNode"]
TABLES = ("doc_store", "term_stats", "segments", "term_vectors")

# (id, docs, IndexConfig overrides): three sizes, positions on and off
CASES = [
    ("empty-pos", 0, {}),
    ("empty-nopos", 0, {"with_positions": False}),
    ("small-pos", 40, {}),
    ("small-nopos-news", 40, {"with_positions": False,
                              "analyzer": news_analyzer()}),
    ("mid-pos-tv", 300, {"with_term_vectors": True}),
    ("mid-nopos", 300, {"with_positions": False}),
]


@pytest.fixture(scope="module")
def texts(spark):
    rows = source_files(spark, 300, seed=19, partitions=2).collect()
    return [r["content"] for r in rows]


def _rows(texts, n):
    """n docs: the first three are SPECIAL, ids 0..n-1."""
    if not n:
        return []
    body = (SPECIAL + texts)[:n]
    return [(i, ("py", "go", "js")[i % 3], t) for i, t in enumerate(body)]


def _dead(n):
    """The ids _lifecycle deletes from A (one it never held)."""
    split = n * 3 // 4
    return {0, 2, split - 1, 10 ** 9} if split else {7}


def _lifecycle(spark, rows, cfg, root):
    """build A (in two waves) and a delta B, delete from A, compact A,
    merge."""
    df = spark.createDataFrame(rows, SCHEMA)
    split = len(rows) * 3 // 4
    dirs = {k: os.path.join(root, k) for k in "abcm"}
    build_index(df.filter(f"doc_id < {split}"), dirs["a"], cfg,
                meta_cols=("lang",), n_waves=2)
    build_index(df.filter(f"doc_id >= {split}"), dirs["b"], cfg,
                meta_cols=("lang",))
    delete_docs(spark, dirs["a"], _dead(len(rows)))
    compact_index(spark, dirs["a"], dirs["c"])
    merge_indexes(spark, dirs["c"], dirs["b"], dirs["m"])
    return dirs


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, list):
        return tuple(v)
    return v


def _table(spark, path):
    """(Spark-visible schema, sorted rows); blobs as bytes. A table
    Spark cannot open (an empty partitioned write) reads as the error's
    name, a missing one as "absent"."""
    if not os.path.isdir(path):
        return "absent"
    try:
        df = spark.read.parquet(path)
    except Exception as e:  # AnalysisException: schema not inferable
        return type(e).__name__
    rows = [tuple(_norm(v) for v in r) for r in df.collect()]
    return df.schema, sorted(rows, key=repr)


def _snapshot(spark, d):
    with open(os.path.join(d, "stats.json")) as f:
        stats = json.load(f)
    manifests = {}
    for p in glob.glob(os.path.join(d, "manifest", "*.json")):
        with open(p) as f:
            m = json.load(f)
        manifests[m["bucket"]] = (m["status"], m["input_fingerprint"])
    return stats, manifests, {t: _table(spark, os.path.join(d, t))
                              for t in TABLES}


@pytest.mark.parametrize("case,n,over", CASES, ids=[c[0] for c in CASES])
def test_driver_writes_equal_spark_plans(spark, texts, tmp_path, monkeypatch,
                                         case, n, over):
    cfg = IndexConfig(n_buckets=4, doc_range=64, block_size=8, **over)
    rows = _rows(texts, n)
    monkeypatch.setattr(search, "SEARCH_DRIVER_CAP", 1 << 40)
    local = _lifecycle(spark, rows, cfg, str(tmp_path / "driver"))
    monkeypatch.setattr(search, "SEARCH_DRIVER_CAP", -1)
    dist = _lifecycle(spark, rows, cfg, str(tmp_path / "spark"))
    for k in "abcm":
        got, want = _snapshot(spark, local[k]), _snapshot(spark, dist[k])
        assert got[0] == want[0], f"{case}/{k}: stats.json"
        assert got[1] == want[1], f"{case}/{k}: manifests"
        for t in TABLES:
            assert got[2][t] == want[2][t], f"{case}/{k}: {t}"
    # compaction and merge re-encode to exactly what a fresh build of the
    # live union writes: every table equal, stats equal but for lineage
    monkeypatch.setattr(search, "SEARCH_DRIVER_CAP", 1 << 40)
    fresh = str(tmp_path / "fresh")
    dead = _dead(len(rows))
    build_index(spark.createDataFrame(
        [r for r in rows if r[0] not in dead], SCHEMA), fresh, cfg,
        meta_cols=("lang",))
    merged, want = _snapshot(spark, local["m"]), _snapshot(spark, fresh)
    for stats in (merged[0], want[0]):
        stats.pop("input_fingerprint")
    assert merged[0] == want[0]
    assert merged[2] == want[2]
    if n:
        assert merged[2]["segments"][1], "the merged index holds postings"


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"write-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(1.0)  # let the listener bus deliver any job start
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _local_frame(spark, rows):
    """The rows as a local relation (createDataFrame of a pandas frame)."""
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "content"]), SCHEMA)
    assert df.isLocal()
    return df


def test_driver_writes_job_budget(spark, texts, tmp_path):
    """At the default cap a small build runs 2 Spark jobs (fingerprint,
    gather), and none from a local relation, whose rows the driver
    gathers and fingerprints without a job; an id-list delete, the
    compaction and the merge run none."""
    cfg = IndexConfig(n_buckets=4, doc_range=64, block_size=8)
    df = spark.createDataFrame(_rows(texts, 80), SCHEMA).persist()
    df.count()
    d = {k: str(tmp_path / k) for k in "abcml"}
    assert _jobs(spark, lambda: build_index(
        df.filter("doc_id < 60"), d["a"], cfg, meta_cols=("lang",))) <= 2
    assert _jobs(spark, lambda: build_index(
        df.filter("doc_id >= 60"), d["b"], cfg, meta_cols=("lang",))) <= 2
    local = _local_frame(spark, _rows(texts, 80)[60:])
    assert _jobs(spark, lambda: build_index(
        local, d["l"], cfg, meta_cols=("lang",))) == 0
    assert _snapshot(spark, d["l"]) == _snapshot(spark, d["b"])
    assert _jobs(spark, lambda: delete_docs(spark, d["a"], [3, 4])) == 0
    assert _jobs(spark, lambda: compact_index(spark, d["a"], d["c"])) == 0
    assert _jobs(spark, lambda: merge_indexes(spark, d["c"], d["b"],
                                              d["m"])) == 0
    df.unpersist()


FP_CASES = {
    "null": [(0, "py", None)],
    "all-null": [(0, "py", None), (1, "go", None)],
    "empty": [(0, "py", "")],
    "non-ascii": [(0, "go", SPECIAL[2]), (1, None, "ascii only")],
    "zero-rows": [],
}


@pytest.mark.parametrize("case", list(FP_CASES) + ["corpus"])
def test_gathered_fingerprint_equals_spark_aggregate(spark, texts, tmp_path,
                                                     case):
    """The driver's fingerprint of a local relation's gathered rows is the
    string input_fingerprint's Spark aggregate builds (resume keys on
    it), and the driver build from the local relation writes what the
    build from the same rows as a non-local input writes."""
    rows = FP_CASES.get(case) or _rows(texts, 40)
    local = _local_frame(spark, rows)
    other = spark.createDataFrame(rows, SCHEMA)
    assert not other.isLocal()
    got = index_build.gathered_fingerprint(
        index_build._gather(local, "content", "doc_id", ("lang",)))
    assert got == index_build.input_fingerprint(other, "content")
    if case == "corpus":
        cfg = IndexConfig(n_buckets=4, doc_range=16, block_size=4,
                          with_term_vectors=True)
        a, b = str(tmp_path / "local"), str(tmp_path / "other")
        build_index(local, a, cfg, meta_cols=("lang",))
        build_index(other, b, cfg, meta_cols=("lang",))
        assert _snapshot(spark, a) == _snapshot(spark, b)


def test_concurrent_builds_restore_session_conf(spark, texts, tmp_path,
                                                monkeypatch):
    """The build's session-wide toggles (AQE off for its driver-bound
    actions, dynamic partition overwrite for its Spark writes) are
    reference-counted: two threads entering A, B and leaving A, B keep
    the setting until the last one leaves and end on the session's
    original values; eight threads churning the toggle always see it
    set; and two Spark-placed builds run at once leave the session as
    it was."""
    keys = {"spark.sql.adaptive.enabled": index_build._one_job_per_action,
            "spark.sql.sources.partitionOverwriteMode":
            lambda s: index_build._session_conf(
                s, "spark.sql.sources.partitionOverwriteMode", "dynamic")}
    before = {k: spark.conf.get(k) for k in keys}
    for key, toggle in keys.items():
        steps = [threading.Event() for _ in range(4)]
        seen = {}

        def run(me, enter_after, leave_after, done_enter, done_leave):
            if enter_after is not None:
                steps[enter_after].wait()
            with toggle(spark):
                steps[done_enter].set()
                steps[leave_after].wait()
                seen[me] = spark.conf.get(key)
            steps[done_leave].set()

        # A enters (0), B enters (1), A leaves (2), B leaves (3)
        pair = [threading.Thread(target=run, args=("a", None, 1, 0, 2)),
                threading.Thread(target=run, args=("b", 0, 2, 1, 3))]
        for t in pair:
            t.start()
        for t in pair:
            t.join(30)
        assert steps[3].is_set()
        assert seen["a"] != before[key] and seen["b"] == seen["a"], key
        assert spark.conf.get(key) == before[key], key

    # stress: more threads than cores, a short switch interval; inside
    # the toggle every thread must see the toggled value
    wrong, switch = [], sys.getswitchinterval()

    def churn():
        for _ in range(15):
            with index_build._one_job_per_action(spark):
                if spark.conf.get("spark.sql.adaptive.enabled") != "false":
                    wrong.append(1)

    sys.setswitchinterval(1e-5)
    try:
        crowd = [threading.Thread(target=churn) for _ in range(8)]
        for t in crowd:
            t.start()
        for t in crowd:
            t.join(120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in crowd) and not wrong
    assert {k: spark.conf.get(k) for k in keys} == before

    monkeypatch.setattr(search, "SEARCH_DRIVER_CAP", -1)
    cfg = IndexConfig(n_buckets=2, doc_range=64, block_size=8)
    errors = []

    def build(lo, hi, name):
        try:
            build_index(spark.createDataFrame(_rows(texts, hi)[lo:], SCHEMA),
                        str(tmp_path / name), cfg)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=build, args=(0, 20, "x")),
               threading.Thread(target=build, args=(20, 40, "y"))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads) and not errors
    assert {k: spark.conf.get(k) for k in keys} == before


def _fail_on_call(monkeypatch, n):
    """pyarrow's write_table raises on its n-th call from now."""
    real, calls = pq.write_table, [0]

    def flaky(*args, **kwargs):
        calls[0] += 1
        if calls[0] == n:
            raise OSError("injected write failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(index_build.pq, "write_table", flaky)


def test_driver_writer_failure_leaves_previous_table(spark, tmp_path,
                                                     monkeypatch):
    """A write that dies midway (after one of its partition files) leaves
    the previous table in place — or, with none, no directory — and no
    visible temp file."""
    old = pa.table({"term": ["a", "b", "c"], "df": [1, 2, 3],
                    "bucket": pa.array([0, 1, 2], pa.int32())})
    new = pa.table({"term": ["x", "y", "z"], "df": [7, 8, 9],
                    "bucket": pa.array([0, 1, 2], pa.int32())})
    path = str(tmp_path / "t")
    write_table(old, path, "bucket")
    before = _table(spark, path)
    _fail_on_call(monkeypatch, 2)
    with pytest.raises(OSError, match="injected"):
        write_table(new, path, "bucket")
    assert _table(spark, path) == before
    assert sorted(os.listdir(tmp_path)) == ["t"]

    fresh = str(tmp_path / "fresh")
    _fail_on_call(monkeypatch, 2)
    with pytest.raises(OSError, match="injected"):
        write_table(new, fresh, "bucket")
    assert not os.path.exists(fresh)
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_driver_compaction_failure_keeps_previous_output(spark, texts,
                                                         tmp_path,
                                                         monkeypatch):
    """A driver compaction that dies while writing its segments leaves
    the previous compaction's segments whole (and its earlier tables
    replaced whole): no reader opens a half-written table."""
    cfg = IndexConfig(n_buckets=4, doc_range=64, block_size=8)
    df = spark.createDataFrame(_rows(texts, 60), SCHEMA)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    build_index(df, idx, cfg)
    compact_index(spark, idx, out)
    seg_before = _table(spark, os.path.join(out, "segments"))
    delete_docs(spark, idx, [5, 6])
    _fail_on_call(monkeypatch, 3)  # doc_store, segments bucket 0, boom
    with pytest.raises(OSError, match="injected"):
        compact_index(spark, idx, out)
    assert _table(spark, os.path.join(out, "segments")) == seg_before
    store = _table(spark, os.path.join(out, "doc_store"))
    assert len(store[1]) == 58  # the new doc store landed whole
    assert not [f for f in os.listdir(out) if f.startswith(".")]
