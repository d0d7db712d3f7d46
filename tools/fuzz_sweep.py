"""Off-seed adversarial sweep driver — rerun the committed fuzz suites'
generators and oracles over FRESH seed ranges (the pinned pytest seeds
verify determinism; this tool hunts beyond them).

    python tools/fuzz_sweep.py bool  [--seeds 1000:1012] [--per 8]
    python tools/fuzz_sweep.py qs    [--seeds 3000:3020] [--per 6]
    python tools/fuzz_sweep.py slop  [--seeds 5000:5006] [--per 10]
    python tools/fuzz_sweep.py exp   [--seeds 11000:11001] [--per 120]
    python tools/fuzz_sweep.py write [--seeds 13000:13010] [--per 6]
    python tools/fuzz_sweep.py codec [--seeds 17000:17100] [--per 20]
    python tools/fuzz_sweep.py read  [--seeds 19000:19100] [--per 20]
    python tools/fuzz_sweep.py multi [--seeds 23000:23010] [--per 8]

The bool sweep draws test_es_fuzz's bool bodies with metadata filters
(term / terms on repo, range / exists on content_len) in their filter
lists. The bool and qs sweeps run every drawn body in both placements — the
default (driver under SEARCH_DRIVER_CAP on a warm handle), then the
distributed plan forced by SEARCH_DRIVER_CAP=-1 — and count a
disagreement between them as a failure before checking the oracle.
The write sweep draws a corpus size, analyzer mode, positions / term
vectors and a delete fraction per seed, runs build -> delete -> compact
-> delta build -> merge on the driver and then on the Spark plans
(SEARCH_DRIVER_CAP=-1), diffs every table, stats.json and manifest of
the two, diffs the merged tables against a fresh build of the live
union, and checks `--per` top-k queries over the merged index against
oracle/pure.py.
The codec sweep (no Spark) draws `--per` run sets per seed at the codec's
edge shapes — empty runs, df of 1, block_size, block_size + 1 and
3 x block_size, ids up to 2^40 and 2^62 (the cross-run prefix sum
overflows there), tf up to 1,000 — and checks the run-batched encode
against tests/test_codec.py's per-run reference byte for byte, block_max
bit for bit and never below the true max, and the decode round trip;
the runs' positions the same way.
The read sweep (no Spark) draws `--per` random parts per seed — (term,
doc_part) rows in random order at the same edge shapes, encoded with
encode_runs / encode_positions_runs, a None positions blob on some
empty rows — and checks the read path's part-wide decode
(plans.search._Part over a pandas frame, an Arrow table, a sliced one
and large_binary blobs) against each row's own decode_postings /
decode_positions and the drawn postings.
The multi sweep draws two-field bodies over a title index (each doc's
first 6 words) and a text index of one corpus — query_string OR / AND /
mixed, multi_match best_fields / most_fields / cross_fields /
operator:'and' / phrase / phrase_prefix (some sloppy) and dis_max, with
random `field^boost` and tie_breaker in {0, 0.3, 1, 1.5} — and runs each
on the clean pair and on a copy whose tombstones differ per field. Each
body must give equal rows (ids exact, scores ==) in the driver placement
and under SEARCH_DRIVER_CAP=-1, or the same ValueError in both, and no
doc dead in either field may come back.

Prints one line per mismatch and a final `SWEEP DONE fails=N`.
The round-5 closing sweep of these three (plus an msearch variant)
covered ~650 bodies over 30+ seeds and surfaced exactly one seam —
must_not-only bool bodies raising instead of returning ES's zero-score
complement — fixed and pinned in tests/test_es_fuzz.py.
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))


def _spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    return s


def _fuzz_fixture(spark):
    """The test_es_fuzz corpus/index/oracle set, built directly."""
    from pyspark.sql import functions as F

    import test_es_fuzz as T
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.oracle import pure
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    docs = assign_doc_ids(source_files(spark, 300, seed=77, partitions=4),
                          num_partitions=4)
    one = docs.select("doc_id", "repo",
                      F.col("content").alias("text")).persist()
    d = tempfile.mkdtemp(prefix="sweep_") + "/idx"
    build_index(one, d, T.CFG, text_col="text", meta_cols=("repo",),
                resume=False)
    si = SegmentIndex(spark, d)
    raw = {r["doc_id"]: r["text"]
           for r in one.select("doc_id", "text").collect()}
    oidx = pure.OracleIndex.build(raw, si.analyzer)
    dt = {k: set(pure.analyze(t, si.analyzer)) for k, t in raw.items()}
    return T, si, raw, oidx, dt


def _both_placements(run):
    """(rows of run() in the default placement, whether the distributed
    plan forced by SEARCH_DRIVER_CAP=-1 returns the same rows)."""
    import newssearchengine_spark.plans.search as S

    rows = sorted(tuple(r) for r in run().collect())
    cap, S.SEARCH_DRIVER_CAP = S.SEARCH_DRIVER_CAP, -1
    try:
        dist = sorted(tuple(r) for r in run().collect())
    finally:
        S.SEARCH_DRIVER_CAP = cap
    return rows, rows == dist


def sweep_bool(seeds, per) -> int:
    from newssearchengine_spark.plans.dsl import es_search

    spark = _spark()
    T, si, raw, oidx, dt = _fuzz_fixture(spark)
    vocab = T._vocab(si, oidx)
    store = T._store_values(si)
    metas = T._meta_pools(store)
    orc = T._Oracle(si, oidx, dt, store)
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        for i in range(per):
            bspec = T._gen_bool(rng, vocab, metas=metas)
            rows, same = _both_placements(lambda: es_search(
                si, {"query": {"bool": bspec}}, size=len(raw) + 10))
            if not same:
                fails += 1
                print(f"PLACEMENT seed={seed}#{i}: {bspec}")
                continue
            got = {d: sc for _, d, sc in rows}
            rb = float(bspec.get("boost", 1.0))
            want = {}
            for dd in raw:
                r = orc.node(bspec, dd)
                if r is not None and r[0]:
                    want[dd] = round(r[1] * rb, 6)
            if sorted(got) != sorted(want):
                fails += 1
                print(f"MATCH-SET seed={seed}#{i}: {bspec}")
                continue
            for dd, s in got.items():
                if abs(s - want[dd]) > 2e-6:
                    fails += 1
                    print(f"SCORE seed={seed}#{i} doc={dd}: {bspec}")
                    break
    return fails


def sweep_qs(seeds, per) -> int:
    from newssearchengine_spark.plans.dsl import es_search

    spark = _spark()
    T, si, raw, oidx, dt = _fuzz_fixture(spark)
    vocab = T._vocab(si, oidx)
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        for i in range(per):
            pool = list(dict.fromkeys(vocab))
            rng.shuffle(pool)
            n_ops = rng.randint(2, 4)
            operands = [[pool.pop() for _ in range(rng.randint(1, 2))]
                        for _ in range(n_ops)]
            ops = [rng.choice(["AND", "OR"]) for _ in range(n_ops - 1)]
            parts = [" ".join(operands[0])]
            for op, opr in zip(ops, operands[1:]):
                parts += [op, " ".join(opr)]
            grammar = " ".join(parts)
            boost = rng.choice([1.0, 2.0, 0.5])
            field = "text" if boost == 1.0 else f"text^{boost:g}"
            dop = rng.choice(["or", "and"])
            rows, same = _both_placements(lambda: es_search(
                si, {"query": {"query_string": {
                    "query": grammar, "fields": [field],
                    "default_operator": dop}}},
                size=len(raw) + 10))
            if not same:
                fails += 1
                print(f"QS PLACEMENT seed={seed}#{i} dop={dop}: "
                      f"{grammar!r}")
                continue
            got = {d: sc for _, d, sc in rows}
            groups = []
            for seg in grammar.split(" OR "):
                ands = []
                for chunk in seg.split(" AND "):
                    if dop == "and":
                        for w in chunk.split():
                            ands.append(sorted(set(si.analyze_query(w))))
                    else:
                        ands.append(sorted(set(si.analyze_query(chunk))))
                groups.append(ands)
            want = {}
            for dd in raw:
                s, matched = 0.0, False
                for g in groups:
                    if all(any(t in dt[dd] for t in opr) for opr in g):
                        matched = True
                        s += oidx.score([t for opr in g for t in opr], dd)
                if matched:
                    want[dd] = round(s * boost, 6)
            if sorted(got) != sorted(want):
                fails += 1
                print(f"QS MATCH-SET seed={seed}#{i} dop={dop}: "
                      f"{grammar!r}")
                continue
            for dd, s in got.items():
                if abs(s - want[dd]) > 2e-6:
                    fails += 1
                    print(f"QS SCORE seed={seed}#{i}: {grammar!r}")
                    break
    return fails


def sweep_slop(seeds, per) -> int:
    import test_phrase_slop as P
    from newssearchengine_spark.oracle import pure
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    spark = _spark()
    voc = ["alpha", "beta", "gamma", "delta", "zeta"]
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        texts = [" ".join(rng.choice(voc)
                          for _ in range(rng.randint(4, 14)))
                 for _ in range(40)]
        rows = [(f"r/{i}", f"f{i}.py", "c0", "python", t)
                for i, t in enumerate(texts)]
        df = spark.createDataFrame(
            rows, "repo string, path string, commit string, "
                  "lang string, content string")
        corpus = assign_doc_ids(df, num_partitions=4).persist()
        id_of = {r["path"]: r["doc_id"]
                 for r in corpus.select("path", "doc_id").collect()}
        d = tempfile.mkdtemp(prefix="slop_sweep_") + "/idx"
        build_index(corpus, d, P.CFG)
        si = SegmentIndex(spark, d)
        toks = {id_of[f"f{i}.py"]: pure.analyze(t, P.CFG.analyzer)
                for i, t in enumerate(texts)}
        for j in range(per):
            phrase = rng.sample(voc, rng.choice([2, 2, 3]))
            slop = rng.randint(0, 4)
            got = [(r["doc_id"], round(r["score"], 6)) for r in
                   si.search_phrase(phrase, 50, slop=slop).collect()]
            want = [(dd, round(s, 6)) for dd, s in
                    P.expected_topk(toks, phrase, slop, 50, si.stats)]
            if got != want:
                fails += 1
                print(f"SLOP seed={seed}#{j} {phrase} slop={slop}")
        corpus.unpersist()
    return fails


def sweep_exp(seeds, per) -> int:
    """Random prefix/wildcard/regexp/fuzzy patterns: engine dictionary
    expansions vs a pure-python oracle replicating the documented
    (df desc / dist asc, term asc) order and max_expansions cap."""
    import re
    from collections import Counter

    from newssearchengine_spark.oracle import pure

    spark = _spark()
    T, si, raw, _oidx, _dt = _fuzz_fixture(spark)
    df = Counter()
    for t in raw.values():
        for tok in set(pure.analyze(t, si.analyzer)):
            df[tok] += 1
    dict_terms = sorted(df)

    def lev(a, b):
        if abs(len(a) - len(b)) > 2:
            return 99
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        for _ in range(per):
            base = rng.choice(dict_terms)
            kind = rng.choice(["prefix", "wildcard", "regexp", "fuzzy"])
            mx = rng.choice([3, 5, 50])
            if kind == "prefix":
                pat = base[:rng.randint(1, max(1, len(base) - 1))]
                got = si.expand_prefix(pat, max_expansions=mx)
                cand = [t for t in dict_terms if t.startswith(pat)]
                want = sorted(cand, key=lambda t: (-df[t], t))[:mx]
            elif kind == "wildcard":
                i = rng.randint(0, len(base) - 1)
                j = rng.randint(i + 1, len(base))
                pat = (base[:i]
                       + ("*" if rng.random() < 0.6 else "?") + base[j:])
                got = si.expand_wildcard(pat, max_expansions=mx)
                rx = re.compile("^" + "".join(
                    ".*" if c == "*" else "." if c == "?"
                    else re.escape(c) for c in pat) + "$")
                cand = [t for t in dict_terms if rx.match(t)]
                want = sorted(cand, key=lambda t: (-df[t], t))[:mx]
            elif kind == "regexp":
                i = rng.randint(1, len(base) - 1) if len(base) > 1 else 1
                pat = re.escape(base[:i]) + rng.choice(
                    [".*", "[a-z]+", ".?" + re.escape(base[i:]),
                     re.escape(base[i:]) + "{1}"])
                got = si.expand_regexp(pat, max_expansions=mx)
                rx = re.compile("^(?:" + pat + ")$")
                cand = [t for t in dict_terms if rx.match(t)]
                want = sorted(cand, key=lambda t: (-df[t], t))[:mx]
            else:
                me = rng.choice([1, 2])
                pl = rng.choice([0, 0, 1, 2])
                got = si.expand_fuzzy(base, max_edits=me, prefix_len=pl,
                                      max_expansions=mx)
                cand = [t for t in dict_terms
                        if (pl == 0 or t.startswith(base[:pl]))
                        and lev(t, base) <= me]
                want = sorted(
                    cand, key=lambda t: (lev(t, base), -df[t], t))[:mx]
            if got != want:
                fails += 1
                print(f"EXP MISMATCH {kind} seed={seed}: "
                      f"got={got[:5]} want={want[:5]}")
    return fails


def sweep_write(seeds, per) -> int:
    import test_write_placement as W
    from newssearchengine_spark.config import (AnalyzerConfig, IndexConfig,
                                               news_analyzer)
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.oracle import pure
    from newssearchengine_spark.plans import search as S
    from newssearchengine_spark.plans.delete import compact_index, delete_docs
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.merge import merge_indexes

    spark = _spark()
    pool = [r["content"] for r in
            source_files(spark, 400, seed=29, partitions=2).collect()]
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        n = rng.choice([0, rng.randint(1, 30), rng.randint(30, 250)])
        n_delta = rng.choice([0, rng.randint(1, 60)])
        texts = (W.SPECIAL + rng.sample(pool, n + n_delta))[:n + n_delta]
        rows = [(i, rng.choice(["py", "go"]), t) for i, t in enumerate(texts)]
        base, delta = rows[:n], rows[n:]
        cfg = IndexConfig(
            n_buckets=rng.choice([2, 4, 8]),
            doc_range=rng.choice([16, 64, 1024]),
            block_size=rng.choice([4, 16]),
            with_positions=rng.random() < 0.5,
            with_term_vectors=rng.random() < 0.5,
            analyzer=news_analyzer() if rng.random() < 0.4
            else AnalyzerConfig())
        frac = rng.choice([0.0, 0.05, 0.3])
        dead = rng.sample(range(n), int(n * frac)) + [10 ** 9]
        label = (f"seed={seed} n={n} delta={n_delta} "
                 f"mode={cfg.analyzer.mode} pos={cfg.with_positions} "
                 f"tv={cfg.with_term_vectors} deleted={len(dead) - 1}")
        root = tempfile.mkdtemp(prefix="write_sweep_")
        snaps, dirs = {}, {}
        for placement, cap in (("driver", 1 << 40), ("spark", -1)):
            d = {k: os.path.join(root, placement, k) for k in "abcm"}
            old, S.SEARCH_DRIVER_CAP = S.SEARCH_DRIVER_CAP, cap
            try:
                build_index(spark.createDataFrame(base, W.SCHEMA), d["a"],
                            cfg, meta_cols=("lang",))
                delete_docs(spark, d["a"], dead)
                compact_index(spark, d["a"], d["c"])
                build_index(spark.createDataFrame(delta, W.SCHEMA), d["b"],
                            cfg, meta_cols=("lang",))
                merge_indexes(spark, d["c"], d["b"], d["m"])
            finally:
                S.SEARCH_DRIVER_CAP = old
            snaps[placement] = {k: W._snapshot(spark, d[k]) for k in "abcm"}
            dirs[placement] = d
        diff = [k for k in "abcm" if snaps["driver"][k] != snaps["spark"][k]]
        if diff:
            fails += 1
            print(f"WRITE PLACEMENT {label}: differs in {diff}")
            continue
        gone = set(dead)
        fresh = os.path.join(root, "fresh")
        build_index(spark.createDataFrame(
            [r for r in rows if r[0] not in gone], W.SCHEMA), fresh, cfg,
            meta_cols=("lang",))
        if W._snapshot(spark, fresh)[2] != snaps["driver"]["m"][2]:
            fails += 1
            print(f"WRITE FRESH {label}: merged tables differ from a "
                  f"fresh build of the live union")
            continue
        live = {i: t or "" for i, _, t in rows if i not in gone}
        if not live:
            continue
        si = S.SegmentIndex(spark, dirs["driver"]["m"])
        oidx = pure.OracleIndex.build(live, si.analyzer)
        toks = {i: pure.analyze(t, si.analyzer) for i, t in live.items()}
        pool_ids = [i for i, tk in toks.items() if tk]
        for j in range(per if pool_ids else 0):
            tk = toks[rng.choice(pool_ids)]
            terms = rng.sample(tk, min(len(tk), rng.randint(1, 3)))
            got = [(r["doc_id"], r["score"])
                   for r in si.search(terms, 10).collect()]
            want = oidx.search(terms, 10)
            if ([d for d, _ in got] != [d for d, _ in want]
                    or any(abs(a - b) > 1e-9
                           for (_, a), (_, b) in zip(got, want))):
                fails += 1
                print(f"WRITE ORACLE {label} #{j}: {terms}")
        si.close()
    return fails


def sweep_codec(seeds, per) -> int:
    import numpy as np

    import test_codec as TC
    from newssearchengine_spark.functions.codec import (
        decode_positions_runs, decode_runs, encode_positions_runs,
        encode_runs, tf_norm)

    fails = 0
    for seed in seeds:
        rng = np.random.default_rng(seed)
        for j in range(per):
            bs = int(rng.choice([1, 2, 4, 16, 128]))
            dfs = [int(rng.choice([0, 1, bs, bs + 1, 3 * bs,
                                   int(rng.integers(1, 4 * bs + 2))]))
                   for _ in range(int(rng.integers(0, 10)))]
            runs = TC._draw_runs(rng, dfs,
                                 int(rng.choice([1 << 7, 1 << 20, 1 << 40,
                                                 1 << 62])),
                                 int(rng.choice([1, 3, 1000])))
            runs = [r for r in runs if r[0].size or rng.random() < 0.5]
            counts = np.array([r[0].size for r in runs], np.int64)
            flat = [np.concatenate([r[k] for r in runs] + [np.empty(0, int)])
                    .astype(np.int64) for k in range(3)]
            k1, b = 1.2, 0.75
            avgdl = float(rng.uniform(1.0, 500.0))
            label = f"seed={seed} #{j} bs={bs} dfs={counts.tolist()}"
            enc = encode_runs(*flat, counts, k1=k1, b=b, avgdl=avgdl,
                              block_size=bs)
            for r, (ids, tfs, dls) in enumerate(runs):
                want = TC._ref_postings(ids, tfs, dls, k1=k1, b=b,
                                        avgdl=avgdl, block_size=bs)
                got_max = enc["block_max"][r].values.to_numpy()
                tfn = tf_norm(tfs.astype(float), dls.astype(float), k1=k1,
                              b=b, avgdl=avgdl)
                bound_ok = all(float(m) >= tfn[i * bs:(i + 1) * bs].max()
                               for i, m in enumerate(got_max))
                if (enc["docs"][r].as_py() != want[0]
                        or enc["tfs"][r].as_py() != want[1]
                        or enc["dls"][r].as_py() != want[2]
                        or enc["block_last"][r].as_py() != want[3]
                        or not np.array_equal(got_max.view(np.uint32),
                                              want[4].view(np.uint32))
                        or not bound_ok):
                    fails += 1
                    print(f"CODEC ENCODE {label}: run {r} differs")
            got = decode_runs(enc["docs"], enc["tfs"], enc["dls"])
            if not (all(np.array_equal(g, w) for g, w in zip(got, flat))
                    and np.array_equal(got[3], counts)):
                fails += 1
                print(f"CODEC DECODE {label}: round trip differs")
            # positions: tf positions per posting, runs as above
            hi = int(rng.choice([64, 5000, 1 << 33]))
            lists = [[np.sort(rng.choice(max(hi, 2 * int(t)), size=int(t),
                                         replace=False)).astype(np.int64)
                      for t in r[1]] for r in runs]
            pos = np.concatenate([p for run in lists for p in run]
                                 + [np.empty(0, np.int64)])
            blobs = encode_positions_runs(pos, flat[1], counts)
            if (blobs.to_pylist() != [TC._ref_positions(run) for run in lists]
                    or not np.array_equal(
                        decode_positions_runs(blobs, flat[1]), pos)):
                fails += 1
                print(f"CODEC POSITIONS {label}: differs")
    return fails


def sweep_read(seeds, per) -> int:
    import numpy as np
    import pandas as pd

    import test_codec as TC
    from newssearchengine_spark.functions.codec import (
        decode_positions, decode_postings, encode_positions_runs,
        encode_runs)
    from newssearchengine_spark.plans.search import _Part

    fails = 0
    for seed in seeds:
        rng = np.random.default_rng(seed)
        for j in range(per):
            bs = int(rng.choice([1, 2, 4, 16, 128]))
            dfs = [int(rng.choice([0, 1, bs, bs + 1, 3 * bs,
                                   int(rng.integers(1, 4 * bs + 2))]))
                   for _ in range(int(rng.integers(0, 10)))]
            doc_range = int(rng.choice([1 << 10, 1 << 20]))
            part = int(rng.integers(0, 1 << 20))
            runs = [(ids + part * doc_range, tfs, dls) for ids, tfs, dls
                    in TC._draw_runs(rng, dfs, doc_range,
                                     int(rng.choice([1, 3, 50])))]
            counts = np.array([r[0].size for r in runs], np.int64)
            flat = [np.concatenate([r[k] for r in runs] + [np.empty(0, int)])
                    .astype(np.int64) for k in range(3)]
            enc = encode_runs(*flat, counts, k1=1.2, b=0.75, avgdl=40.0,
                              block_size=bs)
            lists = [np.sort(rng.choice(300, size=int(t), replace=False))
                     for t in flat[1]]
            pos = encode_positions_runs(
                np.concatenate(lists + [np.empty(0, np.int64)]), flat[1],
                counts).to_pylist()
            pos = [None if not c and rng.random() < 0.5 else p
                   for c, p in zip(counts, pos)]
            terms = [f"w{i:03d}" for i in rng.permutation(len(runs))]
            pdf = pd.DataFrame({
                c: pd.Series(v, dtype=object) for c, v in [
                    ("term", terms), ("positions", pos),
                    *((c, enc[c].to_pylist()) for c in ("docs", "tfs",
                                                        "dls"))]})
            pdf.insert(0, "doc_part", np.int64(part))
            label = f"seed={seed} #{j} bs={bs} dfs={counts.tolist()}"
            want = {}
            at = np.concatenate(([0], np.cumsum(counts)))
            for r, row in enumerate(pdf.itertuples(index=False)):
                got = decode_postings(row.docs, row.tfs, row.dls)
                got += (decode_positions(row.positions or b"", got[1]),)
                drawn = (*runs[r], np.concatenate(
                    lists[at[r]:at[r + 1]] + [np.empty(0, np.int64)]))
                if not all(np.array_equal(g, w) for g, w in zip(got, drawn)):
                    fails += 1
                    print(f"READ ROW {label}: row {r} decodes wrong")
                want[row.term] = got
            for form, rows in zip(("pandas", "arrow", "sliced", "large"),
                                  [pdf] + TC._arrow_forms(pdf)):
                p = _Part(rows, positions=True)
                ok = p.terms == sorted(want) and all(
                    np.array_equal(p.ids[p.span(t)], w[0])
                    and np.array_equal(p.tfs[p.span(t)], w[1])
                    and np.array_equal(p.dls[p.span(t)], w[2])
                    and np.array_equal(p.positions(t), w[3])
                    for t, w in want.items())
                if not ok:
                    fails += 1
                    print(f"READ PART {label}: {form} part decode differs")
    return fails


def _two_field_fixture(spark):
    """(clean {title, text} indexes, a copy of both with some docs dead in
    title only, some in text only and some in both, the union of the
    dead ids, each doc's title tokens, the text field's fuzz vocab)."""
    import shutil

    from pyspark.sql import functions as F

    import test_es_fuzz as T
    from newssearchengine_spark.datagen import source_files
    from newssearchengine_spark.oracle import pure
    from newssearchengine_spark.plans.delete import delete_docs
    from newssearchengine_spark.plans.index_build import build_index
    from newssearchengine_spark.plans.search import SegmentIndex
    from newssearchengine_spark.sources.corpus import assign_doc_ids

    docs = assign_doc_ids(source_files(spark, 300, seed=78, partitions=4),
                          num_partitions=4)
    two = docs.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("content"), " "), 1, 6), " ")
        .alias("title"), F.col("content").alias("text")).persist()
    rows = two.collect()
    root = tempfile.mkdtemp(prefix="sweep_multi_")
    for fld in ("title", "text"):
        build_index(two, f"{root}/{fld}", T.CFG, text_col=fld, resume=False)
        shutil.copytree(f"{root}/{fld}", f"{root}/dead_{fld}")
    dead = random.Random(0).sample([r["doc_id"] for r in rows], 30)
    delete_docs(spark, f"{root}/dead_title", dead[:20])
    delete_docs(spark, f"{root}/dead_text", dead[12:])
    clean = {f: SegmentIndex(spark, f"{root}/{f}") for f in ("title", "text")}
    tomb = {f: SegmentIndex(spark, f"{root}/dead_{f}")
            for f in ("title", "text")}
    si = clean["text"]
    oidx = pure.OracleIndex.build({r["doc_id"]: r["text"] for r in rows},
                                  si.analyzer)
    titles = [si.analyze_query(r["title"]) for r in rows]
    two.unpersist()
    return clean, tomb, set(dead), titles, T._vocab(si, oidx)


def _gen_multi(rng, vocab, titles) -> dict:
    """One two-field body of a random shape."""
    shape = rng.choice(["qs_or", "qs_and", "qs_mixed", "best_fields",
                        "most_fields", "cross_fields", "mm_and", "phrase",
                        "phrase_prefix", "dis_max"])
    boosts = {f: rng.choice([1.0, 1.0, 0.5, 2.0, 3.0])
              for f in ("title", "text")}
    fields = [f if boosts[f] == 1.0 else f"{f}^{boosts[f]:g}"
              for f in ("title", "text")]
    tb = rng.choice([0.0, 0.3, 1.0, 1.5])
    words = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 3)))
    if shape.startswith("qs"):
        ops = {"qs_or": ["OR"], "qs_and": ["AND"],
               "qs_mixed": ["AND", "OR"]}[shape]
        q = rng.choice(vocab)
        for _ in range(rng.randint(1, 3)):
            q += f" {rng.choice(ops)} {rng.choice(vocab)}"
        return {"query_string": {"fields": fields, "query": q,
                                 "tie_breaker": tb}}
    if shape == "dis_max":
        return {"dis_max": {"queries": [
            {"match": {"title": {"query": words, "boost": boosts["title"]}}},
            {"match": {"text": " ".join(rng.sample(vocab, 2))}}],
            "tie_breaker": tb}}
    spec = {"fields": fields, "query": words, "tie_breaker": tb}
    if shape == "mm_and":
        spec["operator"] = "and"
    else:
        spec["type"] = shape
    if shape.startswith("phrase"):
        # consecutive tokens of some doc's title, so most phrases match
        toks = rng.choice([t for t in titles if len(t) >= 2])
        i = rng.randint(0, len(toks) - 2)
        ph = toks[i:i + rng.randint(2, 3)]
        if shape == "phrase_prefix":
            ph[-1] = ph[-1][:max(2, len(ph[-1]) - rng.randint(0, 3))]
        spec["query"] = " ".join(ph)
        if rng.random() < 0.3:
            spec["slop"] = rng.choice([1, 2])
    return {"multi_match": spec}


def sweep_multi(seeds, per) -> int:
    import newssearchengine_spark.plans.search as S
    from newssearchengine_spark.plans.dsl import es_search

    def outcome(fidx, body):
        try:
            return sorted(tuple(r) for r in
                          es_search(fidx, body, size=400).collect())
        except ValueError as e:
            return f"ValueError: {e}"

    spark = _spark()
    clean, tomb, dead, titles, vocab = _two_field_fixture(spark)
    fails = hits = errors = 0
    for seed in seeds:
        rng = random.Random(seed)
        for i in range(per):
            body = {"query": _gen_multi(rng, vocab, titles)}
            for name, fidx in (("clean", clean), ("tomb", tomb)):
                got = outcome(fidx, body)
                cap, S.SEARCH_DRIVER_CAP = S.SEARCH_DRIVER_CAP, -1
                try:
                    dist = outcome(fidx, body)
                finally:
                    S.SEARCH_DRIVER_CAP = cap
                if got != dist:
                    fails += 1
                    print(f"MULTI PLACEMENT {name} seed={seed}#{i}: {body}")
                elif isinstance(got, str):
                    errors += 1
                elif name == "tomb" and {d for _, d, _ in got} & dead:
                    fails += 1
                    print(f"MULTI DEAD seed={seed}#{i}: {body}")
                else:
                    hits += bool(got)
    print(f"multi: {len(seeds) * per} bodies x 2 index pairs, {hits} "
          f"non-empty, {errors} the same ValueError in both placements")
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("what",
                    choices=["bool", "qs", "slop", "exp", "write", "codec",
                             "read", "multi"])
    ap.add_argument("--seeds", default="")
    ap.add_argument("--per", type=int, default=0)
    args = ap.parse_args()
    defaults = {"bool": ("1000:1012", 8), "qs": ("3000:3020", 6),
                "slop": ("5000:5006", 10), "exp": ("11000:11001", 120),
                "write": ("13000:13010", 6), "codec": ("17000:17100", 20),
                "read": ("19000:19100", 20), "multi": ("23000:23010", 8)}
    srange, per = defaults[args.what]
    if args.seeds:
        srange = args.seeds
    if args.per:
        per = args.per
    lo, hi = (int(x) for x in srange.split(":"))
    fails = {"bool": sweep_bool, "qs": sweep_qs, "slop": sweep_slop,
             "exp": sweep_exp, "write": sweep_write,
             "codec": sweep_codec, "read": sweep_read,
             "multi": sweep_multi}[args.what](
                 range(lo, hi), per)
    print(f"SWEEP DONE fails={fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
