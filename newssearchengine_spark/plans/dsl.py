"""ES query-DSL adapter: run the reference's LITERAL es.search bodies.

A user of the reference issues ES query dicts; this module maps those
bodies onto the engine so the queries run UNCHANGED:

- query_string over fields (the WAPO retrieval shape,
  /root/reference/wapo/experiments/ranking.py:128-139); pure-AND
  conjunctions run as bool-must; mixed AND/OR grammars run as an OR of
  AND-groups under ES's AND-binds-tighter precedence (search_mixed)
- multi_match with operator:"or" (the netzpolitik shape,
  /root/reference/netzpolitik/experiments/keyword_match_recall.py:30-43)
- term on a keyword field (the url lookup,
  /root/reference/netzpolitik/index_vs.py:47-58); terms / ids / range
  as their whole-query forms (doc-store lookups, constant-score)
- match / match_phrase / match_phrase_prefix / bool (incl.
  minimum_should_match and FILTER CONTEXT: non-scoring match / term /
  terms / range clauses — the reference's publish-date cut shape,
  */experiments/filter_by_time.py, as an ES range filter) / prefix /
  fuzzy / wildcard, plus `field^boost` factors in
  query_string/multi_match fields lists (the surrounding ES surface
  the engine implements)
- match_all / constant_score (filter context at a constant boost) /
  boosting (negative_boost demotion, exact over the full positive
  match set) / function_score with field_value_factor (boost by a
  doc field, exact over the full match set) / multi_match
  type best_fields|most_fields with tie_breaker / explicit dis_max
  with per-sub-query texts / simple_query_string (the unambiguous
  subset) / whole-query exists — the remaining ES compound-query
  surface
- aggregations via `es_aggs` (terms / stats / single-metric /
  date_histogram over every query-matching doc — ES agg semantics)
- body-level `sort` (field sorts over the match set — the
  filter-then-sort shape; missing-last, doc_id tie-break)
- pagination: `from`/`size` (re-ranked page) and `search_after`
  cursors (exact, cursor cut pushed into the per-part scorers)
- more_like_this by doc id — the reference's whole background-linking
  flow (termvectors keyword extraction -> OR retrieval) as one body
- round-5 closing kinds: terms_set (CoveringQuery, per-doc or constant
  minimums) / pinned (ids first, organic excluded) / rank_feature
  (saturation|log|sigmoid feature scoring) / multi_match
  type=cross_fields (blended-df statistics) / match_bool_prefix /
  wrapper (base64 re-dispatch); aggregations grew composite
  (after-key bucket pagination), top_hits sub-aggs, pipeline kinds
  (cumulative_sum / derivative / avg|sum|min|max|percentiles_bucket),
  significant_text, missing; es_scroll streams exact deep-export
  pages; the completion suggester rides es_suggest

The analyzer key inside a body is ignored on purpose: write/read
analyzer unity comes from the target index's own stats.json (the engine
equivalent of an ES index's bound analyzer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .search import (MANY_SCHEMA, TOPK_SCHEMA, LocalFrame, SegmentIndex,
                     _rank_topk, search_dismax)

def _split_on(toks: list[str], op: str) -> list[list[str]]:
    """Split a token list on an operator token, dropping empty segments
    (dangling/duplicated operators are ignored, as ES's lenient
    query_string parser does)."""
    out, cur = [], []
    for t in toks:
        if t == op:
            if cur:
                out.append(cur)
                cur = []
        else:
            cur.append(t)
    if cur:
        out.append(cur)
    return out


def _parse_query_string(query: str) -> tuple[str, list]:
    """Parse the query_string operator grammar the adapter supports.

    ES's parser treats only the UPPERCASE tokens as operators; lowercase
    'and'/'or' are ordinary terms (the analyzer's stopword list drops
    them downstream), so matching is case-sensitive.

    Returns ("or", [text]) for a pure disjunction (OR tokens dropped —
    the engine analyzes the remaining text), ("and", operands) for a
    pure conjunction 'a AND b AND c' (each operand is required; an
    operand analyzing to several tokens keeps ES match semantics — any
    of its tokens satisfies it), or ("mixed", groups) for a mixed
    grammar under ES's AND-binds-tighter precedence: 'a AND b OR c'
    parses to [(a AND b), (c)] — a list of conjunction groups, each a
    list of operand strings."""
    toks = query.split()
    has_and = any(t == "AND" for t in toks)
    has_or = any(t == "OR" for t in toks)
    if has_and and has_or:
        # AND binds tighter: split on OR first, each segment is a
        # conjunction of its AND operands
        groups = [_split_on(seg, "AND") for seg in _split_on(toks, "OR")]
        return "mixed", [[" ".join(op) for op in g] for g in groups if g]
    if has_and:
        return "and", [" ".join(op) for op in _split_on(toks, "AND")]
    return "or", [" ".join(t for t in toks if t != "OR")]


#: impossible analyzed token — a leaf that must MATCH NOTHING (e.g. a
#: prefix with zero dictionary expansions) carries it; the tree's flag
#: for an absent term is never set, so the clause is correctly false
#: (an EMPTY token list would instead be leniency-DROPPED as a no-op)
_NEVER_TOKEN = "\x00never"


def _sqs_lex(s: str) -> list:
    """Tokenize the Lucene SimpleQueryParser grammar: '(' ')' '+' '|'
    operator chars, clause-leading '-' negation, '"..."' phrases with an
    optional '~N' slop suffix, and bare terms (with trailing '*' prefix
    or '~N' fuzzy markers resolved later). A '-' INSIDE a term is part
    of the term (kebab-case survives); '\\' escapes are rejected."""
    out: list = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch.isspace():
            i += 1
            continue
        if ch in "+|()":
            out.append(ch)
            i += 1
            continue
        if ch == "\\":
            raise ValueError(
                "escapes are not supported in simple_query_string")
        if ch == "-":
            # the main loop only sees '-' at a token boundary (a '-'
            # INSIDE a term is consumed by the term scanner below), so
            # it is always the negation operator here
            out.append("-")
            i += 1
            continue
        if ch == '"':
            j = s.find('"', i + 1)
            if j < 0:
                raise ValueError(
                    "unbalanced quote in simple_query_string")
            text = s[i + 1:j]
            i = j + 1
            slop = 0
            if i < n and s[i] == "~":
                k = i + 1
                while k < n and s[k].isdigit():
                    k += 1
                if k == i + 1:
                    raise ValueError("bad '~' suffix (needs digits)")
                slop = int(s[i + 1:k])
                i = k
            out.append(("phrase", text, slop))
            continue
        j = i
        while j < n and not s[j].isspace() and s[j] not in '+|()"':
            j += 1
        out.append(("term", s[i:j]))
        i = j
    return out


def _sqs_tree(si, text: str, default_op: str):
    """Compile a simple_query_string onto a search_bool_tree node:
    left-to-right combination with NO precedence (the SimpleQueryParser
    contract — 'foo | bar baz' with default AND is (foo OR bar) AND
    baz), '-' negates its clause, groups recurse. Leaves follow the
    engine's conventions: a term is an ES match (OR of its analyzed
    tokens), 'p*' is the bounded prefix expansion, 't~N' the bounded
    fuzzy expansion (each scored as summed BM25 of matched expansion
    terms), a quoted phrase is a phrase leaf (slop supported). Lenient
    like ES: a term analyzing to nothing drops as a no-op; an expansion
    with no dictionary hits matches NOTHING (via an impossible-token
    leaf — dropping it would wrongly widen the match set). Returns None
    for a query with no effective clause."""
    toks = _sqs_lex(str(text))

    def leaf(atom):
        kind = atom[0]
        if kind == "phrase":
            ts = si.analyze_query(atom[1])
            if not ts:
                return None
            if len(ts) == 1:
                return ts  # single-token phrase = the term match
            return {"phrase": ts, "slop": int(atom[2])}
        raw = atom[1]
        if raw.endswith("*") and len(raw) > 1:
            stem = si.analyze_query(raw[:-1])
            if not stem:
                return None
            exp = sorted(si.expand_prefix(stem[-1], max_expansions=50))
            return exp or [_NEVER_TOKEN]
        fuzz = None
        if "~" in raw:
            base, _, suf = raw.rpartition("~")
            if base and suf.isdigit():
                fuzz = int(suf)
                raw = base
        ts = si.analyze_query(raw)
        if not ts:
            return None
        if fuzz is not None:
            exp = sorted({e for t in ts for e in si.expand_fuzzy(
                t, max_edits=fuzz, max_expansions=50)})
            return exp or [_NEVER_TOKEN]
        return ts

    def parse(pos: int, depth: int):
        """One parenthesis level -> (node-or-leaf-or-None, next_pos)."""
        acc = None
        pending_op = None   # op joining the NEXT clause; None = default
        neg = False

        def add(x, op, negged):
            nonlocal acc
            if x is None:
                return  # lenient no-op clause
            if negged:
                x = {"must_not": [x]}
            if acc is None:
                acc = x
                return
            o = op or default_op
            if o == "and":
                acc = {"must": [acc, x]}
            else:
                acc = {"should": [acc, x]}

        i = pos
        while i < len(toks):
            t = toks[i]
            if t == ")":
                if depth == 0:
                    raise ValueError("unbalanced ')' in "
                                     "simple_query_string")
                return acc, i + 1
            if t == "(":
                sub, i = parse(i + 1, depth + 1)
                add(sub, pending_op, neg)
                pending_op, neg = None, False
                continue
            if t == "+":
                pending_op = "and"
                i += 1
                continue
            if t == "|":
                pending_op = "or"
                i += 1
                continue
            if t == "-":
                neg = True
                i += 1
                continue
            add(leaf(t), pending_op, neg)
            pending_op, neg = None, False
            i += 1
        if depth != 0:
            raise ValueError("unbalanced '(' in simple_query_string")
        return acc, i

    node, _ = parse(0, 0)
    if node is None:
        return None
    if not isinstance(node, dict) or "phrase" in node or "terms" in node:
        # a single leaf: wrap so search_bool_tree gets a node
        node = {"must": [node]}
    return node


def _field_text(spec: dict) -> tuple[str, str]:
    field, val = next(iter(spec.items()))
    if isinstance(val, dict):
        val = val.get("query", val.get("value"))
    return field, str(val)


def _or_query_text(q: dict) -> str:
    """Extract the OR-matching text of an inner query dict (match /
    pure-OR query_string / multi_match) — the sub-query shape the
    compound kinds (boosting, function_score) accept."""
    qk, qs = next(iter(q.items()))
    if qk == "match":
        return _field_text(qs)[1]
    if qk in ("query_string", "multi_match"):
        qop, qparts = _parse_query_string(str(qs["query"]))
        if qop == "or":
            return qparts[0]
    raise ValueError(
        "sub-query must be OR-matching (match / query_string / "
        "multi_match)")


def _parse_boosts(fields: list[str]) -> tuple[list[str], dict[str, float]]:
    """Split ES field boosts ('title^3') off a fields list. Returns the
    bare field names (order kept) and {field: boost} for boosted ones."""
    names, boosts = [], {}
    for f in fields:
        if "^" in f:
            name, _, b = f.partition("^")
            names.append(name)
            boosts[name] = float(b)
        else:
            names.append(f)
    return names, boosts


def _scaled(out: DataFrame, boost: float, rnd: bool = False) -> DataFrame:
    """A ranked result with every score times `boost` (rounded 6 dp
    HALF_UP when `rnd`); a uniform positive scale keeps the ranking. A
    LocalFrame stays one: its numpy column is scaled (and rounded with
    _round_half_up, the values of Catalyst's F.round), no JVM call."""
    if boost == 1.0:
        return out
    if isinstance(out, LocalFrame):
        from ..operators.similarity import _round_half_up

        c = out._cols
        sc = c["score"] * float(boost)
        return LocalFrame(out._session, {
            "rank": c["rank"], "doc_id": c["doc_id"],
            "score": _round_half_up(sc, 6) if rnd else sc})
    sc = F.col("score") * F.lit(boost)
    return out.select("rank", "doc_id",
                      (F.round(sc, 6) if rnd else sc).alias("score"))


def _as_list(v):
    return v if isinstance(v, list) else [v]


def _resolve_msm(raw, total: int) -> int:
    """Resolve an ES/Lucene minimum_should_match VALUE against `total`
    optional clauses: positive integer n => n; negative integer -n =>
    total - n; 'P%' => floor(total * P / 100) (Lucene rounds the
    percentage computation DOWN); '-P%' => total minus that floor.
    Conditional forms ('3<90%', space-separated chains '2<75% 5<-2')
    run Lucene's calculateMinShouldMatch sequence: starting from
    all-required, each 'n<spec' in order applies `spec` only while the
    optional-clause count exceeds n — so the chain resolves to the
    spec of the LAST exceeded threshold, and a count at or below the
    first threshold requires every clause. Results clamp at 0
    (Lucene: a spec computing to nothing leaves the normal bool rules —
    a should-only query still needs one match)."""
    if raw is None:
        return 0
    if isinstance(raw, int):
        return max(0, raw if raw >= 0 else total + raw)
    s = str(raw).strip()
    if "<" in s:
        # Lucene SolrPluginUtils.calculateMinShouldMatch conditional
        # walk: result starts at total (all required); each condition
        # in WRITTEN order returns early once count <= its threshold,
        # otherwise adopts its spec (which must itself be simple).
        result = total
        for cond in s.split():
            head, sep, tail = cond.partition("<")
            if not sep or not tail:
                raise ValueError(
                    f"bad conditional minimum_should_match part: {cond!r}")
            try:
                bound = int(head)
            except ValueError:
                raise ValueError(
                    f"bad conditional minimum_should_match bound: {cond!r}")
            if "<" in tail:
                raise ValueError(
                    f"nested '<' in minimum_should_match part: {cond!r}")
            if total <= bound:
                return max(0, result)
            result = _resolve_msm(tail, total)
        return max(0, result)
    try:
        if s.endswith("%"):
            pct = int(s[:-1])
            part = (abs(pct) * total) // 100
            return max(0, part if pct >= 0 else total - part)
        n = int(s)
    except ValueError:
        raise ValueError(f"bad minimum_should_match value: {raw!r}")
    return max(0, n if n >= 0 else total + n)


def _match_needs_tree(c) -> bool:
    """An object-form match/term clause carrying operator:'and',
    minimum_should_match, or a per-clause boost can't ride the flat
    bool path (one unweighted OR token list per clause) — it compiles
    to a (possibly weighted) tree node instead."""
    if not isinstance(c, dict):
        return False
    ck = next(iter(c))
    if ck not in ("match", "term"):
        return False
    v = next(iter(c[ck].values()))
    if not isinstance(v, dict):
        return False
    if "boost" in v:
        return True
    return ck == "match" and (
        str(v.get("operator", "or")).lower() == "and"
        or v.get("minimum_should_match") is not None)


def _bool_is_nested(bspec: dict) -> bool:
    for role in ("must", "should", "must_not"):
        for c in _as_list(bspec.get(role, [])):
            if isinstance(c, dict) and next(iter(c)) in (
                    "bool", "match_phrase", "match_phrase_prefix"):
                return True
            if _match_needs_tree(c):
                return True
    return any((isinstance(f, dict)
                and ("bool" in f or "match_phrase" in f
                     or "match_phrase_prefix" in f)) or
               _match_needs_tree(f)
               for f in _as_list(bspec.get("filter", [])))


def _bool_to_tree(si, bspec: dict) -> dict:
    """Translate a (possibly nested) ES bool body into the engine's
    search_bool_tree node: match clauses analyze to token lists, term
    stays a literal token, bool recurses; filter entries pass through
    (the engine's _parse_filters grammar) except nested bools, which
    recurse."""
    def node(must=(), should=(), msm=0, boost=1.0):
        return {"must": list(must), "should": list(should),
                "must_not": [], "filter": [],
                "minimum_should_match": int(msm),
                "boost": float(boost)}

    def conv(c):
        ck, cs = next(iter(c.items()))
        if ck == "bool":
            sub = _bool_to_tree(si, cs)
            # ES per-clause boost on a nested bool scales ITS total;
            # the parent applies it here (the root body's own boost is
            # the caller's _bscale, never double-counted)
            sub["boost"] = float(cs.get("boost", 1.0))
            return sub
        if ck == "match_phrase":
            # phrase clause inside bool (ES composes these freely):
            # compiles to a phrase LEAF — its complete scored relation
            # joins the tree's clause-row union (search.py _bool_tree);
            # scoring = the engine's phrase convention, so
            # bool{must:[match_phrase]} == search_phrase (pytest-pinned)
            v = next(iter(cs.values()))
            slop = int(v.get("slop", 0)) if isinstance(v, dict) else 0
            pboost = (float(v.get("boost", 1.0))
                      if isinstance(v, dict) else 1.0)
            _, text = _field_text(cs)
            leaf = {"phrase": si.analyze_query(text), "slop": slop}
            if pboost != 1.0:
                leaf["boost"] = pboost
            return leaf
        if ck == "match_phrase_prefix":
            # trailing-prefix phrase clause inside bool: the last
            # analyzed token expands against the dictionary (bounded
            # like ES max_expansions), the leaf matches fixed-terms-
            # then-any-expansion (search.py _bool_tree, with alts)
            v = next(iter(cs.values()))
            mx = (int(v.get("max_expansions", 50))
                  if isinstance(v, dict) else 50)
            pslop = (int(v.get("slop", 0))
                     if isinstance(v, dict) else 0)
            pboost = (float(v.get("boost", 1.0))
                      if isinstance(v, dict) else 1.0)
            _, text = _field_text(cs)
            ts = si.analyze_query(text)
            if not ts:
                return []  # lenient no-op, like an empty match clause
            leaf = {"phrase": ts[:-1],
                    "alts": sorted(si.expand_prefix(
                        ts[-1], max_expansions=mx))}
            if pslop:
                leaf["slop"] = pslop
            if pboost != 1.0:
                leaf["boost"] = pboost
            return leaf
        if ck not in ("match", "term"):
            raise ValueError(f"unsupported bool clause: {ck}")
        v = next(iter(cs.values()))
        boost = (float(v.get("boost", 1.0))
                 if isinstance(v, dict) else 1.0)
        if ck == "match" and isinstance(v, dict):
            # object-form options that change the clause's MATCH SET
            # compile to a nested node (operator 'and' = AND of its
            # tokens; msm = at-least-m-of-its-tokens) — both score
            # the summed BM25 of the clause's matched tokens, the
            # ES match contract; a boost scales the clause total
            _, text = _field_text(cs)
            toks = sorted(set(si.analyze_query(text)))
            if str(v.get("operator", "or")).lower() == "and":
                return node(must=[[t] for t in toks], boost=boost)
            # integer / percentage / negative forms (Lucene spec);
            # total = the clause's analyzed tokens (the optional
            # clauses of the boolean a match generates)
            msm = _resolve_msm(v.get("minimum_should_match"),
                               len(toks))
            if msm:  # 0 = the plain OR match below
                return node(should=[[t] for t in toks], msm=msm,
                            boost=boost)
        _, text = _field_text(cs)
        toks = si.analyze_query(text) if ck == "match" else [text]
        if boost != 1.0:
            # weighted term clause — same match set, score scaled
            return {"terms": toks, "boost": boost}
        return toks

    out = {
        role: [conv(c) for c in _as_list(bspec.get(role, []))]
        for role in ("must", "should", "must_not")
    }

    def conv_filter(f):
        if isinstance(f, dict) and "bool" in f:
            return _bool_to_tree(si, f["bool"])
        if isinstance(f, dict) and ("match_phrase" in f
                                    or "match_phrase_prefix" in f):
            return conv(f)  # phrase leaf; filter context never scores
        if _match_needs_tree(f):
            fk = next(iter(f))
            v = next(iter(f[fk].values()))
            if fk == "term" or (isinstance(v, dict)
                                and set(v) <= {"query", "value", "boost"}
                                and "boost" in v):
                # a boost in FILTER CONTEXT is a no-op (ES filters never
                # score) — strip it and keep the plain filter grammar
                col, val = _field_text(f[fk])
                return {fk: {col: val}}
            _, text = _field_text(f["match"])
            toks = sorted(set(si.analyze_query(text)))
            if str(v.get("operator", "or")).lower() == "and":
                return node(must=[[t] for t in toks])
            msm = _resolve_msm(v.get("minimum_should_match"), len(toks))
            if not msm:
                return f
            return node(should=[[t] for t in toks], msm=msm)
        return f

    out["filter"] = [conv_filter(f)
                     for f in _as_list(bspec.get("filter", []))]
    # body-level msm counts SHOULD CLAUSES; Lucene's total excludes
    # clauses that analyzed to nothing (they never reach the boolean)
    n_should = sum(1 for c in out["should"]
                   if (isinstance(c, dict) or c))
    out["minimum_should_match"] = _resolve_msm(
        bspec.get("minimum_should_match"), n_should)
    return out


def _highlight_terms(si, q: dict) -> list[str]:
    """The analyzed SCORING terms of a query body — what ES's highlighter
    tags (filter/must_not never highlight). Supports the OR-matching
    kinds plus (possibly nested) bool; other kinds raise."""
    kind, spec = next(iter(q.items()))
    if kind in ("match", "match_phrase"):
        # ES's highlighter tags a phrase's individual terms
        _, text = _field_text(spec)
        return sorted(set(si.analyze_query(text)))
    if kind in ("query_string", "multi_match", "simple_query_string"):
        toks = [t for t in str(spec["query"]).split()
                if t not in ("AND", "OR")]
        return sorted({t for tok in toks
                       for t in si.analyze_query(tok)})
    if kind == "term":
        _, v = _field_text(spec)
        return [str(v)]
    if kind == "bool":
        out: set[str] = set()
        for role in ("must", "should"):
            cl = spec.get(role, [])
            for c in (cl if isinstance(cl, list) else [cl]):
                out.update(_highlight_terms(si, c))
        return sorted(out)
    if kind in ("prefix", "fuzzy", "wildcard", "regexp"):
        # expansion kinds highlight the terms the query actually
        # matched: the same bounded dictionary expansion the search ran
        _, v = _field_text(spec)
        es = next(iter(spec.values()))
        es = es if isinstance(es, dict) else {}
        mx = int(es.get("max_expansions", 50))
        if kind == "prefix":
            return sorted(si.expand_prefix(v, max_expansions=mx))
        if kind == "wildcard":
            return sorted(si.expand_wildcard(v, max_expansions=mx))
        if kind == "regexp":
            return sorted(si.expand_regexp(v, max_expansions=mx))
        fz = es.get("fuzziness", 1)
        me = (0 if len(v) < 3 else (1 if len(v) < 6 else 2)) \
            if isinstance(fz, str) else int(fz)
        return sorted(si.expand_fuzzy(
            v, max_edits=me, prefix_len=int(es.get("prefix_length", 0)),
            max_expansions=mx))
    if kind == "terms_set":
        # scoring terms = the analyzed term list (whichever subset
        # matched scores, ES tags them all)
        _, tspec = next(iter(spec.items()))
        return sorted({tok for t in (tspec.get("terms") or [])
                       for tok in si.analyze_query(str(t))})
    raise ValueError(f"highlight unsupported for query kind: {kind}")


def _query_match_set(index, q: dict):
    """Complete, UNRANKED doc_id match set of a filter-context query dict
    (the ES knn `filter` clause / script_score inner-query scope). None
    means match_all — no restriction beyond tombstones, which the caller
    applies. Same kind grammar es_count / the es_aggs scope accept:
    match / query_string / multi_match OR-matching kinds (postings
    membership, no scoring pass), bool (single-scan tree relation),
    term / terms / range / exists (pushed-down doc_store predicate)."""
    kind, spec = next(iter(q.items()))
    if kind == "match_all":
        return None
    if kind == "bool":
        rel = index._bool_tree(_bool_to_tree(index, spec))
        if rel is None:
            return index.spark.createDataFrame([], "doc_id bigint")
        return rel.select("doc_id")
    if kind in ("match", "query_string", "multi_match"):
        if kind == "match":
            _, text = _field_text(spec)
        else:
            text = str(spec["query"])
        terms = index.analyze_query(str(text))
        if not terms:
            return index.spark.createDataFrame([], "doc_id bigint")
        return index._term_docs(terms).select("doc_id").distinct()
    if kind in ("term", "terms", "range", "exists"):
        from .search import _meta_filter_pred

        _, mc = index._parse_filters([q])
        pred = _meta_filter_pred(mc, index._store_schema())
        return index.doc_store().filter(pred).select("doc_id")
    if kind == "terms_set":
        # membership form of the ranked kind: distinct-term count per
        # doc vs its (per-doc or constant) minimum, no scoring pass
        _, tspec = next(iter(spec.items()))
        toks: list[str] = []
        for t in (tspec.get("terms") or []):
            toks.extend(index.analyze_query(str(t)))
        toks = sorted(set(toks))
        msm_field = tspec.get("minimum_should_match_field")
        msm_const = tspec.get("minimum_should_match")
        if not toks or (msm_const is not None
                        and int(msm_const) > len(toks)):
            return index.spark.createDataFrame([], "doc_id bigint")
        cnt = (index._term_docs(toks).select("doc_id", "term")
               .groupBy("doc_id")
               .agg(F.countDistinct("term").alias("_n")))
        if msm_field is not None:
            mm = index.doc_store().select(
                "doc_id",
                F.col(str(msm_field)).cast("bigint").alias("_m"))
            cnt = cnt.join(mm, "doc_id").filter(
                F.col("_n") >= F.greatest(F.col("_m"), F.lit(1)))
        else:
            cnt = cnt.filter(F.col("_n") >= F.lit(max(int(msm_const), 1)))
        return cnt.select("doc_id")
    if kind == "rank_feature":
        # docs carrying the feature field (the kind's match set)
        return (index.doc_store()
                .filter(F.col(str(spec["field"])).isNotNull())
                .select("doc_id"))
    raise ValueError(
        f"unsupported knn filter / script_score scope kind: {kind} "
        "(match / query_string / multi_match / bool / term / terms / "
        "range / exists / terms_set / rank_feature / match_all)")


#: ES's 400 reasons for a malformed knn query_vector
_ZERO_MAGNITUDE = ("The [cosine] similarity does not support vectors "
                   "with zero magnitude")
_DIMS = ("The query vector has a different number of dimensions [{}] "
         "than the document vectors [")


def _knn_section(spec: dict) -> tuple[str, list[float], int, float]:
    """(field, query vector, k, boost) of one ES 8 knn section. A query
    vector of zero magnitude (the cosine denominator) is ES's 400,
    raised before any plan or decode."""
    qvec = [float(x) for x in spec["query_vector"]]
    if sum(x * x for x in qvec) == 0.0:
        raise ValueError(_ZERO_MAGNITUDE)
    return (str(spec.get("field", "embedding")), qvec,
            int(spec.get("k", 10)), float(spec.get("boost", 1.0)))


def _knn_contrib(index, vectors: DataFrame, spec: dict, *,
                 vec_id_col: str = "doc_id",
                 ann: DataFrame | None = None) -> DataFrame:
    """One ES 8 knn section -> its (doc_id, kscore) hit contribution —
    the distributed regime (`_knn_local` is the driver one).

    Global top-k by the ES cosine dense_vector similarity score
    (1 + cos) / 2 (rounded 6 dp, doc_id tie-break), filter clauses
    applied BEFORE the cut (ES post-filter-then-knn semantics), then
    boost-scaled. Default is EXACT (one scan over the filtered vectors
    relation + a TakeOrderedAndProject — the brute_force_knn plan
    shape). With `ann` (a prebuilt operators.hnsw graph) and NO filter,
    the scan is restricted to the per-shard `num_candidates`-deep beam
    candidates first — ES's approximate engine, where num_candidates is
    exactly the per-shard beam width and controls the recall/latency
    trade; scores on returned hits are identical to the exact path by
    construction (same Catalyst re-score), only recall can differ. A
    filtered section stays exact even when ann is given: ES searches
    the graph WITH the filter (deepening until k pass), and a
    post-filtered beam would silently under-return instead — exactness
    is the honest substitute. A zero-magnitude query vector raises
    ValueError here; a scored vector of another dimension fails the
    plan with ES's dimension reason (an assert_true guard)."""
    from ..operators.similarity import as_double, cosine

    field, qvec, k, boost = _knn_section(spec)
    rel = vectors.select(
        F.col(vec_id_col).cast("bigint").alias("doc_id"),
        as_double(F.col(field)).alias("__v"))
    flt = spec.get("filter")
    if flt is not None:
        for c in (flt if isinstance(flt, list) else [flt]):
            ms = _query_match_set(index, c)
            if ms is not None:
                rel = rel.join(ms, "doc_id", "left_semi")
    elif ann is not None:
        from ..operators.hnsw import hnsw_candidates

        ef = max(int(spec.get("num_candidates", 0) or 0), k)
        cands = hnsw_candidates(ann, qvec, ef=ef)
        rel = rel.join(cands.select(F.col("vec_id").alias("doc_id")),
                       "doc_id", "left_semi")
    rel = index._exclude_dead(rel)
    qlit = F.lit(qvec).cast("array<double>")
    dims_ok = F.col("__v").isNull() | (F.size("__v") == len(qvec))
    reason = F.concat(F.lit(_DIMS.format(len(qvec))),
                      F.size("__v").cast("string"), F.lit("]"))
    scored = rel.select(
        "doc_id",
        F.coalesce(
            F.assert_true(dims_ok, reason),
            F.round((F.lit(1.0) + cosine(F.col("__v"), qlit))
                    / F.lit(2.0), 6)).alias("kscore"))
    topk = scored.orderBy(F.desc("kscore"), F.asc("doc_id")).limit(k)
    if boost != 1.0:
        topk = topk.select(
            "doc_id", (F.col("kscore") * F.lit(boost)).alias("kscore"))
    return topk


def _live_ids(index):
    """(ok, dead ids or None): ok when the index's tombstones are on the
    driver (or there are none) — a driver regime's precondition."""
    T, ids, _ = index._tombstones()
    return (not T or ids is not None), (ids if T else None)


def _knn_local(index, vectors: DataFrame, secs: list[dict], qside, *,
               vec_id_col: str, ann: DataFrame | None, size: int):
    """The driver regime of a knn body: its ranked hits in a LocalFrame
    (no Spark job and no JVM call), or None when a gate fails and the
    distributed plan runs. Gates: no section has a filter; the query
    side (if any) ran in a driver regime (`qside` holds a LocalFrame);
    every index's tombstones are on the driver; and `vectors` (and
    `ann`) are decoded in the driver memo
    (operators.similarity.driver_vectors / operators.hnsw.driver_graph:
    served from Spark's cache, rows x dim <= DRIVER_ELEMS_CAP proven
    before the one decode).

    Mirrors the distributed plan exactly: candidates are every live row
    (exact) or the union of the SAME per-shard beams at
    ef = max(num_candidates, k); kscore = round6((1 + cos) / 2) with the
    bit-identical sequential folds; each section cut to k by (kscore
    desc, doc_id asc), then boost-scaled without re-rounding; per-doc
    sums in section order (the query side last), rounded 6 dp, cut to
    `size` by `_cut_topk`."""
    import numpy as np

    from ..operators.hnsw import driver_candidates, driver_graph
    from ..operators.similarity import (_fold_dot, _fold_norm,
                                        _round_half_up, driver_vectors)

    if any(s.get("filter") is not None for s in secs):
        return None
    if qside is not None and not isinstance(qside[1], LocalFrame):
        return None
    ok, dead = _live_ids(index)
    qok, qdead = _live_ids(qside[0]) if qside is not None else (True, None)
    if not (ok and qok):
        return None
    dg = driver_graph(ann) if ann is not None else None
    if ann is not None and dg is None:
        return None
    parsed = [_knn_section(s) for s in secs]
    dvs = [driver_vectors(vectors, vec_id_col, p[0]) for p in parsed]
    if any(dv is None for dv in dvs):
        return None
    parts = []
    for spec, (_, qvec, k, boost), dv in zip(secs, parsed, dvs):
        if len(qvec) != dv.dim:
            raise ValueError(_DIMS.format(len(qvec)) + f"{dv.dim}]")
        if dg is None:
            pos = np.arange(dv.ids.size)
        else:
            ef = max(int(spec.get("num_candidates", 0) or 0), k)
            pos = np.flatnonzero(np.isin(
                dv.ids, driver_candidates(dg, qvec, ef=ef)))
        if dead is not None:
            pos = pos[~np.isin(dv.ids[pos], dead)]
        q = np.asarray([qvec], dtype=np.float64)
        cos = (_fold_dot(dv.V[pos], q)[:, 0]
               / (dv.norms[pos] * _fold_norm(q)[0]))
        ks = _round_half_up((1.0 + cos) / 2.0, 6)
        top = np.lexsort((dv.ids[pos], -ks))[:k]
        parts.append((dv.ids[pos][top],
                      ks[top] * boost if boost != 1.0 else ks[top]))
    if qside is not None:
        qs = qside[1]._cols
        live = (slice(None) if qdead is None
                else ~np.isin(qs["doc_id"], qdead))
        parts.append((qs["doc_id"][live], qs["score"][live]))
    ids = np.unique(np.concatenate([p[0] for p in parts]))
    acc = np.zeros(ids.size)
    for pid, val in parts:  # ids within a part are unique
        acc[np.searchsorted(ids, pid)] += val
    return index._cut_topk({"doc_id": ids, "score": _round_half_up(acc, 6)},
                           size)


def _query_scores_full(indexes, q: dict):
    """The query section of a hybrid knn body: (index, its complete
    ROUNDED (doc_id, score) relation — every matching doc, 6 dp). ES
    combines knn with the query disjunctively over the query's FULL
    match set (not its top-size page), so a doc ranked past `size` on
    text alone can still enter the combined top hits. The relation is a
    LocalFrame when the query side ran on the driver (score_all's or
    _bool_tree's driver placement)."""
    import numpy as np

    from ..operators.similarity import _round_half_up

    kind, spec = next(iter(q.items()))
    si = (next(iter(indexes.values()))
          if isinstance(indexes, dict) else indexes)
    if kind == "bool":
        out = si._bool_tree(_bool_to_tree(si, spec))
        if out is None:
            return si, si._empty(TOPK_SCHEMA)
    elif kind in ("match", "query_string", "multi_match"):
        if kind == "match":
            field, text = _field_text(spec)
            if isinstance(indexes, dict) and field in indexes:
                si = indexes[field]
        else:
            names, boosts = _parse_boosts(list(spec.get("fields") or []))
            if len(names) > 1 or boosts:
                raise ValueError("hybrid knn+query supports a single "
                                 "unboosted query field")
            if names and isinstance(indexes, dict) and names[0] in indexes:
                si = indexes[names[0]]
            op, parts = _parse_query_string(str(spec["query"]))
            if op != "or":
                raise ValueError(
                    "hybrid knn+query supports OR text queries")
            text = parts[0]
        out = si.score_all(text)
    else:
        raise ValueError(f"hybrid knn+query: unsupported query kind {kind} "
                         "(match / query_string / multi_match / bool)")
    if not isinstance(out, LocalFrame):
        return si, out.select("doc_id", F.round("score", 6).alias("score"))
    cols = out._cols
    return si, LocalFrame(si.spark, {
        "doc_id": cols["doc_id"],
        "score": _round_half_up(cols["score"], 6)}, TOPK_SCHEMA)


def _page_offset(body: dict, size: int) -> int:
    """A body's `from` (or `from_`) offset. A negative `size` or `from`
    is ES's 400, raised before any plan."""
    offset = int(body.get("from", body.get("from_", 0)) or 0)
    for name, v in (("size", size), ("from", offset)):
        if v < 0:
            raise ValueError(
                f"[{name}] parameter cannot be negative, found [{v}]")
    return offset


def es_search(indexes, body: dict, size: int = 10, *,
              tie_breaker: float = 0.0, mode: str = "taat",
              source: DataFrame | None = None,
              vectors: DataFrame | None = None,
              vec_id_col: str = "doc_id",
              ann: DataFrame | None = None) -> DataFrame:
    """Evaluate an es.search body against the engine.

    indexes: a single SegmentIndex (one indexed field) or a
    {field_name: SegmentIndex} dict for multi-field bodies.
    body: either the full {"query": {...}} body or the inner query dict.
    Returns (rank, doc_id, score) — except `term`, which returns the
    matching doc-store rows (the reference uses it as an id lookup).

    ES vector search: a top-level `knn` section (ES 8 dense_vector —
    single dict or a list of sections) and the `script_score` +
    cosineSimilarity query kind (the ES 7 exact form) both score
    against `vectors=` — a DataFrame carrying the doc id column
    (`vec_id_col`) and the dense_vector field named by the body (the
    engine keeps vectors in the lake, like _source). knn alone returns
    its exact global top-k at the ES cosine score (1+cos)/2; with a
    `query` section the scores ADD over the union of hits (ES hybrid
    semantics), each knn section cut to its own k (boost-scaled) and
    the query side contributing its complete match-set BM25 scores.
    knn is exact by default; pass `ann=` (an operators.hnsw graph over
    the same vectors) to run unfiltered sections approximately with
    `num_candidates` as the per-shard beam width (ES's approximate
    engine — recall/latency trade, scores on hits unchanged). Two
    regimes, row-identical: when `vectors` (and `ann`) are served from
    Spark's cache and fit DRIVER_ELEMS_CAP they are decoded once on the
    driver, and a body with no knn filter whose query side and
    tombstones are driver-side too runs with no Spark job and no JVM
    call (`_knn_local`); otherwise the distributed plan (`_knn_contrib` +
    one union/aggregate/top-k) runs. A zero-magnitude or
    wrong-dimension query_vector is ES's 400 (ValueError; a distributed
    plan fails with the same dimension reason).

    ES pagination: a top-level `from` in the body (or a `from_` key)
    skips that many hits — the engine evaluates top-(from+size) and
    drops the first `from` ranks, re-ranking from 0 like an ES page (on
    its numpy columns when the page is a LocalFrame). A negative `size`
    or `from` raises ES's 400 reason as ValueError before any plan.

    Driver-regime answers come back as a LocalFrame
    (plans.search.LocalFrame): collect()/toPandas()/count() run no
    Spark job and make no JVM call; composing one builds its JVM frame.

    ES highlight: a top-level `highlight` in the body tags the query
    terms in the hit field and extracts a first-match fragment
    (operators.text.highlight) — appended as `highlighted`/`fragment`
    columns. `source` must be the corpus DataFrame carrying (doc_id,
    <field>): the index stores only the content sha256, not the text
    (ES keeps _source in the index; this engine keeps it in the lake),
    so the fetch phase is a broadcast join of the k hits against the
    source scan.
    """
    offset = _page_offset(body, size)
    q = body.get("query", body)
    # highlight is checked FIRST so it wraps rescore/collapse: the inner
    # recursion produces the FINAL ranked hits, then tags them (ES
    # highlights the response hits, whatever ranking produced them)
    hl = body.get("highlight") if "query" in body else None
    if hl is None:
        rs = body.get("rescore") if "query" in body else None
        if rs is not None:
            return _es_rescore(indexes, body, rs, size,
                               tie_breaker=tie_breaker, mode=mode)
        col_spec = body.get("collapse") if "query" in body else None
        if col_spec is not None:
            return _es_collapse(indexes, body, col_spec, size)
    if hl is not None:
        inner = {k: v for k, v in body.items() if k != "highlight"}
        hits = es_search(indexes, inner, size=size,
                         tie_breaker=tie_breaker, mode=mode,
                         vectors=vectors, vec_id_col=vec_id_col, ann=ann)
        if source is None:
            raise ValueError(
                "highlight needs source= (the corpus DataFrame with "
                "doc_id + the highlighted field; the index stores only "
                "the content sha256)")
        if "rank" not in hits.columns:
            raise ValueError("highlight needs a ranked query")
        fields = hl.get("fields") or {}
        fname, fopts = (next(iter(fields.items())) if fields
                        else ("text", {}))
        si_hl = (indexes[fname] if isinstance(indexes, dict)
                 and fname in indexes
                 else indexes if not isinstance(indexes, dict)
                 else next(iter(indexes.values())))
        terms = _highlight_terms(si_hl, body.get("query", inner))
        if not terms:
            return hits
        pre = (fopts.get("pre_tags") or hl.get("pre_tags")
               or ["<em>"])[0]
        post = (fopts.get("post_tags") or hl.get("post_tags")
                or ["</em>"])[0]
        from ..operators.text import highlight as _hl_op

        joined = (source.select("doc_id", fname)
                  .join(F.broadcast(hits), "doc_id"))
        out = _hl_op(joined, terms, text_col=fname, pre_tag=pre,
                     post_tag=post,
                     context_words=int(fopts.get("context_words", 3)))
        return (out.orderBy(F.asc("rank"))
                .select("rank", "doc_id", "score",
                        "highlighted", "fragment"))
    if offset:
        inner = (dict(body) if ("query" in body or "knn" in body)
                 else {"query": q})
        inner = {k: v for k, v in inner.items()
                 if k not in ("from", "from_")}
        page = es_search(indexes, inner, size=offset + size,
                         tie_breaker=tie_breaker, mode=mode,
                         vectors=vectors, vec_id_col=vec_id_col, ann=ann)
        if "rank" not in page.columns:  # term lookup has no rank order
            raise ValueError("from/size pagination needs a ranked query")
        if isinstance(page, LocalFrame):
            keep = page._cols["rank"] >= offset
            cols = {c: v[keep] for c, v in page._cols.items()}
            cols["rank"] = cols["rank"] - offset
            return LocalFrame(page.sparkSession, cols, page.schema)
        return page.filter(F.col("rank") >= offset).select(
            (F.col("rank") - offset).alias("rank"),
            *[c for c in page.columns if c != "rank"],
        )
    knn_raw = body.get("knn") if isinstance(body, dict) else None
    if knn_raw is not None:
        # ES 8 vector search: knn-only, or hybrid knn + query (scores
        # summed over the union of hits). Each section's cut is its own
        # exact top-k; the final ranking re-cuts the summed relation to
        # `size`. Rounding contract: every contribution rounds 6 dp
        # before the sum, the sum rounds 6 dp (the engine-wide score
        # determinism rule), ties broken doc_id asc.
        if vectors is None:
            raise ValueError(
                "knn needs vectors= (a DataFrame with the doc id column "
                "and the dense_vector field — the index stores text "
                "postings; the lake stores the vectors)")
        si0 = (next(iter(indexes.values()))
               if isinstance(indexes, dict) else indexes)
        secs = knn_raw if isinstance(knn_raw, list) else [knn_raw]
        for s in secs:
            _knn_section(s)  # ES's 400s before any plan or decode
        qside = (_query_scores_full(indexes, body["query"])
                 if body.get("query") is not None else None)
        hits = _knn_local(si0, vectors, secs, qside, vec_id_col=vec_id_col,
                          ann=ann, size=size)
        if hits is not None:
            return hits
        rels = [_knn_contrib(si0, vectors, s, vec_id_col=vec_id_col,
                             ann=ann)
                for s in secs]
        if qside is not None:
            siq, qrel = qside
            rels.append(siq._exclude_dead(qrel).select(
                "doc_id", F.col("score").alias("kscore")))
        # combine = UNION + one hash aggregate, not a cascade of full
        # outer joins: a missing side contributes 0 implicitly, partial
        # (map-side) aggregation applies, and the whole combine costs
        # ONE shuffle however many sections — the 100x-match-set shape.
        # With <= 2 contributions per doc (the hybrid norm) the float
        # sum is order-independent bit-exactly (IEEE + is commutative);
        # >= 3 overlapping sections can differ in the last ulp from a
        # fixed-order sum, rounded away at 6 dp except exactly on a
        # rounding boundary.
        total = rels[0]
        for r in rels[1:]:
            total = total.unionByName(r)
        scored = (total.groupBy("doc_id")
                  .agg(F.round(F.sum("kscore"), 6).alias("score")))
        return _rank_topk(scored, size)
    kind, spec = next(iter(q.items()))
    multi = indexes if isinstance(indexes, dict) else None

    def one(field: str | None = None) -> SegmentIndex:
        if multi is None:
            return indexes
        if field is not None and field in multi:
            return multi[field]
        return next(iter(multi.values()))

    # ES search_after: [score, doc_id] sort values of the previous page's
    # last hit -> EXACT deep pagination with the cursor cut pushed into
    # the per-part scorers (SegmentIndex.search(after=...)) — unlike
    # from/size, the skipped prefix is never re-materialized. Supported
    # for the single-field OR shapes whose scores are raw BM25 (a boost
    # would move the cursor into boosted space).
    sa = body.get("search_after")
    if sa is not None:
        cursor = (float(sa[0]), int(sa[1]))
        if kind == "match":
            field, text = _field_text(spec)
            return one(field).search(text, size, mode=mode, after=cursor)
        if kind in ("query_string", "multi_match"):
            op, parts = _parse_query_string(str(spec["query"]))
            names, boosts = _parse_boosts(list(spec.get("fields") or []))
            dop = str(spec.get("default_operator", "or")).lower()
            if (op == "or" and dop == "or" and not boosts
                    and (multi is None or not names or len(names) == 1)):
                si = one(names[0] if names else None)
                return si.search(parts[0], size, mode=mode, after=cursor)
        raise ValueError(
            "search_after supports single-field unboosted OR queries "
            "(match / query_string / multi_match)")

    sort_spec = body.get("sort")
    if sort_spec is not None:
        # body-level field sort: the filter-then-sort ES shape. Scoring
        # order is irrelevant, so the match set (postings membership for
        # match, parquet-pushed predicates for the lookup kinds) is
        # ordered by the doc-store columns directly — ES 'missing'
        # default _last on both directions. Returns
        # (rank, doc_id, <sort cols>).
        clauses = (sort_spec if isinstance(sort_spec, list)
                   else [sort_spec])
        cols: list[tuple[str, str]] = []
        for s in clauses:
            if isinstance(s, str):
                fld, o = s, "asc"
            else:
                fld, ov = next(iter(s.items()))
                o = (str(ov.get("order", "asc"))
                     if isinstance(ov, dict) else str(ov))
            if fld == "_score":
                raise ValueError(
                    "sort by _score: omit the sort clause instead")
            cols.append((fld, o.lower()))
        if kind == "match_all":
            si = one()
            s = si._exclude_dead(si.doc_store())
        elif kind == "bool":
            # bool match set from the complete tree relation (the same
            # source _count and es_aggs scope to)
            si = one()
            rel = si._bool_tree(_bool_to_tree(si, spec))
            s = si._exclude_dead(si.doc_store())
            s = (s.filter(F.lit(False)) if rel is None
                 else s.join(rel.select("doc_id"), "doc_id", "left_semi"))
        elif kind in ("match", "term", "terms", "range", "exists"):
            from .search import _meta_filter_pred
            si = one(next(iter(spec)) if kind == "match" else None)
            fc, mc = si._parse_filters([q])
            s = si._exclude_dead(si.doc_store())
            if mc:
                s = s.filter(_meta_filter_pred(mc, si._store_schema()))
            for toks in fc:
                s = s.join(
                    si._term_docs(toks).select("doc_id").distinct(),
                    "doc_id", "left_semi")
        elif kind in ("terms_set", "rank_feature"):
            si = one()
            ms = _query_match_set(si, q)
            s = si._exclude_dead(si.doc_store()).join(
                ms.select("doc_id"), "doc_id", "left_semi")
        else:
            raise ValueError(
                "sort supports match / match_all / bool / term / "
                "terms / range / exists / terms_set / rank_feature "
                "queries")
        order = [(F.col(f).desc_nulls_last() if o == "desc"
                  else F.col(f).asc_nulls_last()) for f, o in cols]
        order.append(F.col("doc_id").asc())
        out_fields = [f for f, _ in cols]
        topk = s.select("doc_id", *out_fields).orderBy(*order).limit(size)
        w = Window.orderBy(*order)
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", *out_fields)

    if kind in ("query_string", "multi_match"):
        mm_op = str(spec.get("operator", "or")).lower()
        if kind == "multi_match" and mm_op not in ("or", "and"):
            raise ValueError(f"unsupported multi_match operator: {mm_op}")
        if spec.get("minimum_should_match") is not None:
            # ES applies it to the generated per-field boolean — a
            # match-set change this adapter doesn't model; dropping it
            # silently would return extra hits
            raise ValueError(
                f"minimum_should_match on {kind} is not supported "
                "(express it as a bool body with should clauses)")
        tb = float(spec.get("tie_breaker", tie_breaker))
        if kind == "multi_match":
            mtype = spec.get("type", "best_fields")
            if mtype == "most_fields":
                # ES most_fields sums the per-field scores — exactly the
                # DisMax combine max + tb*(sum-max) at tie_breaker 1.0,
                # so search_dismax serves it unchanged
                tb = 1.0
            elif mtype in ("phrase", "phrase_prefix"):
                # ES runs a match_phrase (match_phrase_prefix) per field
                # and DisMax-combines — the multi-field form of the
                # single-field phrase kinds below
                names, boosts = _parse_boosts(
                    list(spec.get("fields") or []))
                text = str(spec["query"])
                slop = int(spec.get("slop", 0))
                mx = int(spec.get("max_expansions", 50))
                if multi is not None and names and len(names) > 1:
                    from .search import search_dismax_phrase
                    return search_dismax_phrase(
                        {f: multi[f] for f in names}, text, size,
                        tie_breaker=tb, boosts=boosts or None,
                        slop=slop, prefix=(mtype == "phrase_prefix"),
                        max_expansions=mx)
                si = one(names[0] if names else None)
                if mtype == "phrase_prefix":
                    out = si.search_phrase_prefix(text, size,
                                                  max_expansions=mx,
                                                  slop=slop)
                else:
                    out = si.search_phrase(text, size, slop=slop)
                return _scaled(out, boosts.get(names[0], 1.0)
                               if names else 1.0)
            elif mtype == "cross_fields":
                # ES cross_fields: TERM-centric — per-term statistics
                # blend across fields (df = max), per-term combine is
                # dismaxBlendedQuery, doc score sums over terms. The
                # operator:'and' variant (every term required in SOME
                # field) is a match-set change not modeled here.
                if mm_op != "or":
                    raise ValueError(
                        "cross_fields supports operator 'or' (the "
                        "and-variant changes the match set)")
                names, boosts = _parse_boosts(
                    list(spec.get("fields") or []))
                if multi is None or not names or len(names) < 2:
                    raise ValueError(
                        "cross_fields needs a {field: SegmentIndex} "
                        "dict and >= 2 fields")
                from .search import search_cross_fields
                return search_cross_fields(
                    {f: multi[f] for f in names}, str(spec["query"]),
                    size, tie_breaker=tb, boosts=boosts or None)
            elif mtype != "best_fields":
                raise ValueError(
                    f"unsupported multi_match type: {mtype} "
                    "(best_fields / most_fields / cross_fields / "
                    "phrase / phrase_prefix)")
        op, parts = _parse_query_string(str(spec["query"]))
        if (kind == "query_string"
                and str(spec.get("default_operator", "or")).lower()
                == "and"):
            # default_operator AND makes bare terms conjunctive —
            # dropping it silently would run the OR match set. With
            # explicit AND/OR also present ES applies the default only
            # between unoperated terms; under the adapter's
            # AND-binds-tighter grammar that is an implicit AND
            # inserted between adjacent bare terms: 'a b OR c'
            # (default AND) == 'a AND b OR c' == (a AND b) OR c
            # (previously rejected; identity pytest-pinned against the
            # explicit grammar, itself pure-python-oracle-checked)
            qtoks = str(spec["query"]).split()
            if any(t in ("AND", "OR") for t in qtoks):
                rw = [qtoks[0]]
                for prev, t in zip(qtoks, qtoks[1:]):
                    if (prev not in ("AND", "OR")
                            and t not in ("AND", "OR")):
                        rw.append("AND")
                    rw.append(t)
                op, parts = _parse_query_string(" ".join(rw))
            elif op == "or" and len(qtoks) > 1:
                op, parts = "and", qtoks
        names, boosts = _parse_boosts(list(spec.get("fields") or []))
        # a single field's boost scales its scores
        bf = boosts.get(names[0], 1.0) if names else 1.0
        if kind == "multi_match" and mm_op == "and":
            # ES multi_match operator:'and': AND between ALL tokens the
            # field analyzer emits (multi_match has NO query_string
            # grammar — uppercase AND/OR in the text are ordinary
            # terms), per field; per-field summed-BM25 scores combine
            # DisMax (best_fields; most_fields already folded to
            # tb=1.0 above). Single field = the match operator:'and'
            # shape exactly (one must clause per deduped token).
            text = str(spec["query"])
            if multi is not None and names and len(names) > 1:
                from .search import search_dismax_bool
                return search_dismax_bool(
                    {f: multi[f] for f in names}, [[text]], size,
                    tie_breaker=tb, boosts=boosts or None,
                    per_token=True)
            si = one(names[0] if names else None)
            toks = sorted(set(si.analyze_query(text)))
            if not toks:
                return si._empty()
            return _scaled(si.search_bool(must=[[t] for t in toks],
                                          k=size), bf)
        if op == "mixed":
            # OR of AND-groups under ES precedence. Multiple fields run
            # the best_fields shape: the WHOLE grammar per field,
            # per-field scores DisMax-combined (search_dismax_bool)
            if multi is not None and names and len(names) > 1:
                from .search import search_dismax_bool
                return search_dismax_bool(
                    {f: multi[f] for f in names}, parts, size,
                    tie_breaker=tb, boosts=boosts or None)
            si = one(names[0] if names else None)
            groups = [[si.analyze_query(p) for p in g] for g in parts]
            return _scaled(si.search_mixed(groups, k=size), bf)
        if op == "and":
            # pure conjunction: every AND operand is a required clause
            # (an operand's analyzed tokens keep ES match OR-semantics);
            # scoring = summed BM25 of all terms = bool must. Multiple
            # fields: the whole conjunction per field, DisMax-combined
            # (ES best_fields)
            if multi is not None and names and len(names) > 1:
                from .search import search_dismax_bool
                return search_dismax_bool(
                    {f: multi[f] for f in names}, [parts], size,
                    tie_breaker=tb, boosts=boosts or None)
            si = one(names[0] if names else None)
            clauses = [si.analyze_query(p) for p in parts]
            clauses = [c for c in clauses if c]
            if not clauses:
                return si._empty()
            return _scaled(si.search_bool(must=clauses, k=size), bf)
        text = parts[0]
        if multi is None or not names or len(names) == 1:
            si = one(names[0] if names else None)
            return _scaled(si.search(text, size, mode=mode), bf)
        return search_dismax({f: multi[f] for f in names}, text, size,
                             tie_breaker=tb,
                             boosts=boosts or None)

    if kind == "match":
        field, text = _field_text(spec)
        si = one(field)
        val = next(iter(spec.values()))
        if isinstance(val, dict):
            # the object form carries ES match options the tuple form
            # can't: operator/minimum_should_match change the MATCH SET
            # (dropping them silently would return wrong hits), boost
            # scales the scores
            op = str(val.get("operator", "or")).lower()
            if op not in ("or", "and"):
                raise ValueError(f"unsupported match operator: {op}")
            msm_raw = val.get("minimum_should_match")
            boost = float(val.get("boost", 1.0))
            toks = sorted(set(si.analyze_query(text)))
            fz = val.get("fuzziness")
            if fz is not None:
                # ES match fuzziness: each analyzed token expands
                # against the index dictionary, bounded like ES
                # (max_expansions / prefix_length); AUTO = 0/1/2 edits
                # at token length 0-2/3-5/6+. operator 'or' runs the
                # expansion UNION as one disjunction (a single-token
                # match equals the `fuzzy` query kind exactly —
                # pytest-pinned); operator 'and' requires each token's
                # expansion GROUP (bool must, ES's per-token clause).
                # Scoring is the engine's documented expansion
                # convention (search_fuzzy): summed BM25 of the matched
                # expansion terms, each with its own idf — Lucene blends
                # synonym dfs inside its FuzzyQuery rewrite; that
                # internal blend is not reproduced, the convention here
                # is oracle-checked instead (gate ft_fuzzy_bm25 family).
                if msm_raw is not None:
                    raise ValueError(
                        "fuzziness combined with minimum_should_match "
                        "is not supported")
                pl = int(val.get("prefix_length", 0))
                mx = int(val.get("max_expansions", 50))

                def _edits(tok: str) -> int:
                    if isinstance(fz, str):
                        if fz.upper() != "AUTO":
                            raise ValueError(
                                f"unsupported fuzziness: {fz}")
                        return (0 if len(tok) < 3
                                else (1 if len(tok) < 6 else 2))
                    return int(fz)

                egroups = [sorted(si.expand_fuzzy(
                    t, max_edits=_edits(t), prefix_len=pl,
                    max_expansions=mx)) for t in toks]
                if op == "and":
                    if any(not g for g in egroups) or not egroups:
                        # a required token with no expansion matches
                        # nothing (the ES must-clause contract)
                        return si._empty()
                    out = si.search_bool(must=egroups, k=size)
                else:
                    union = sorted({t for g in egroups for t in g})
                    if not union:
                        return si._empty()
                    out = si.search(union, size, mode=mode)
                return _scaled(out, boost, rnd=True)
            out = None
            if op == "and":
                if msm_raw is not None:
                    raise ValueError(
                        "minimum_should_match is a no-op under "
                        "operator:'and' (ES ignores it); drop one")
                if not toks:
                    return si._empty()
                # every token required, scored by the summed BM25 of
                # all tokens — one must clause per token
                out = si.search_bool(must=[[t] for t in toks], k=size)
            elif msm_raw is not None:
                msm = _resolve_msm(msm_raw, len(toks))
                if msm:
                    out = si.search_bool(should=toks,
                                         minimum_should_match=msm,
                                         k=size)
                # msm resolved to 0: the plain OR match below (Lucene
                # leaves the normal at-least-one bool rule in place)
            if out is not None:
                return _scaled(out, boost, rnd=True)
            return _scaled(si.search(text, size, mode=mode), boost,
                           rnd=True)
        return si.search(text, size, mode=mode)

    if kind == "match_phrase":
        field, text = _field_text(spec)
        val = next(iter(spec.values()))
        slop = (int(val.get("slop", 0)) if isinstance(val, dict) else 0)
        # slop > 0 runs the sloppy matcher over the positional sidecar —
        # Lucene's acceptance (offset-shifted span <= slop, transposition
        # costs 2); tf is the engine's documented participating-start
        # convention (search.py:_make_sloppy_phrase_matcher)
        return one(field).search_phrase(text, size, slop=slop)

    if kind == "match_phrase_prefix":
        field, text = _field_text(spec)
        val = next(iter(spec.values()))
        if isinstance(val, dict):
            return one(field).search_phrase_prefix(
                text, size,
                max_expansions=int(val.get("max_expansions", 50)),
                slop=int(val.get("slop", 0)))
        return one(field).search_phrase_prefix(text, size)

    if kind == "match_bool_prefix":
        # ES match_bool_prefix: every analyzed token a bool SHOULD
        # clause, the LAST one a prefix (the search-as-you-type shape
        # without the dedicated field type). The prefix expands bounded
        # like the `prefix` kind and scores BM25 per expansion — the
        # engine's documented expansion-scoring convention
        # (rewrite=scoring_boolean; Lucene's default constant-score
        # rewrite differs, as documented on SegmentIndex.search_prefix).
        field, text = _field_text(spec)
        val = next(iter(spec.values()))
        mx = (int(val.get("max_expansions", 50))
              if isinstance(val, dict) else 50)
        si = one(field)
        toks = si.analyze_query(text)
        if not toks:
            return si._empty()
        exp = si.expand_prefix(toks[-1], max_expansions=mx)
        should = sorted(set(toks[:-1]) | set(exp))
        if not should:
            return si._empty()
        return si.search_bool(should=should, k=size)

    if kind == "bool":
        si = one()
        bboost = float(spec.get("boost", 1.0))

        def _bscale(out: DataFrame) -> DataFrame:
            # body-level bool boost scales every hit's score
            return _scaled(out, bboost, rnd=True)

        if _bool_is_nested(spec):
            # nested bool: the general single-scan tree evaluator; flat
            # bodies keep the candidate-pruned flat path below
            return _bscale(
                si.search_bool_tree(_bool_to_tree(si, spec), k=size))

        def clauses_of(clauses) -> list[list[str]]:
            """One analyzed term list PER CLAUSE: a multi-token match
            under `must` requires the doc to match the CLAUSE (OR of its
            tokens, the ES match default) — not every token."""
            out: list[list[str]] = []
            for c in (clauses if isinstance(clauses, list) else [clauses]):
                ck, cs = next(iter(c.items()))
                if ck not in ("match", "term"):
                    raise ValueError(f"unsupported bool clause: {ck}")
                v = next(iter(cs.values()))
                if isinstance(v, dict) and "boost" in v:
                    # silently dropping it would mis-rank
                    raise ValueError(
                        "per-clause boost inside bool is not supported")
                _, text = _field_text(cs)
                toks = si.analyze_query(text) if ck == "match" else [text]
                if toks:  # a clause analyzed to nothing is a no-op
                    out.append(toks)
            return out

        flat = lambda cl: [t for c in clauses_of(cl) for t in c]
        # ES filter context: a single clause dict or a list of them.
        # match -> analyzed term clause; term/terms/range -> metadata
        # predicate over doc-store columns (the ES-typical keyword/date
        # filter shape, e.g. the reference's publish-date feasibility
        # cuts in */experiments/filter_by_time.py) — parsed inside
        # search_bool._parse_filters.
        filt = spec.get("filter", [])
        if isinstance(filt, dict):
            filt = [filt]
        should_clauses = clauses_of(spec.get("should", []))
        # body-level msm counts should CLAUSES that survived analysis
        # (Lucene's total); integer / percentage / negative forms
        msm = _resolve_msm(spec.get("minimum_should_match"),
                           len(should_clauses))
        if msm > 0 and any(len(c) > 1 for c in should_clauses):
            # ES counts should CLAUSES toward minimum_should_match; the
            # flat engine path counts distinct should TERMS — identical
            # only when every should clause is a single token. Multi-
            # token should clauses under msm route through the tree
            # evaluator, whose msm is per-child (the ES semantics).
            return _bscale(
                si.search_bool_tree(_bool_to_tree(si, spec), k=size))
        must_clauses = clauses_of(spec.get("must", []))
        seen: set = set()
        for c in must_clauses + should_clauses:
            cset = set(c)
            if cset & seen:
                # ES scores each bool clause independently (Lucene
                # rewrites duplicate clauses into one summed boost, so a
                # term in two scoring clauses contributes twice); the
                # flat path scores the UNION of must+should terms, which
                # counts a shared term once. Overlapping scoring clauses
                # take the per-clause tree evaluator (found by the
                # seeded body fuzzer, tests/test_es_fuzz.py).
                return _bscale(si.search_bool_tree(
                    _bool_to_tree(si, spec), k=size))
            seen |= cset
        return _bscale(si.search_bool(
            must=must_clauses,
            should=flat(spec.get("should", [])),
            must_not=flat(spec.get("must_not", [])),
            k=size,
            minimum_should_match=msm,
            filter=filt,
        ))

    if kind == "prefix":
        field, val = _field_text(spec)
        return one(field).search_prefix(val, size)

    if kind == "fuzzy":
        # the object form's options change the EXPANSION SET (and so the
        # match set) — pass them through instead of dropping them.
        # ES fuzziness "AUTO" is length-dependent (0/1/2 at 0-2/3-5/6+
        # chars of the term); numeric fuzziness maps to max_edits.
        field, val = _field_text(spec)
        fspec = next(iter(spec.values()))
        max_edits, prefix_len, max_exp = 1, 0, 50
        if isinstance(fspec, dict):
            fz = fspec.get("fuzziness", 1)
            if isinstance(fz, str):
                if fz.upper() != "AUTO":
                    raise ValueError(f"unsupported fuzziness: {fz}")
                max_edits = 0 if len(val) < 3 else (1 if len(val) < 6
                                                    else 2)
            else:
                max_edits = int(fz)
            prefix_len = int(fspec.get("prefix_length", 0))
            max_exp = int(fspec.get("max_expansions", 50))
        return one(field).search_fuzzy(val, size, max_edits=max_edits,
                                       prefix_len=prefix_len,
                                       max_expansions=max_exp)

    if kind == "wildcard":
        field, val = _field_text(spec)
        return one(field).search_wildcard(val, size)

    if kind == "regexp":
        field, val = _field_text(spec)
        return one(field).search_regexp(val, size)

    if kind == "more_like_this":
        # The reference's ENTIRE background-linking retrieval as one ES
        # body: tf-idf keyword extraction from the liked doc's stored
        # term vectors (es.termvectors thresholds min_term_freq /
        # min_doc_freq / max_query_terms, wapo/parser.py:10-47) feeding
        # an OR disjunction, with the liked docs excluded from the hits
        # (ES MLT include:false default). Runs entirely off the index:
        # term vectors -> keywords -> pruned postings scan.
        fields = list(spec.get("fields") or [])
        si = one(fields[0] if fields else None)
        like = spec.get("like", [])
        if isinstance(like, (dict, str)):
            like = [like]
        ids = [int(l["_id"]) for l in like
               if isinstance(l, dict) and "_id" in l]
        texts = [l for l in like if isinstance(l, str)]
        if ids and texts:
            # mixed likes (r5: the rejection retired): ES merges EVERY
            # like source into ONE aggregated term-frequency budget
            # before the thresholds apply (Lucene MoreLikeThis
            # retrieveTerms over all sources), then excludes the liked
            # DOCS from the hits like the id form
            terms = si.keywords_merged(
                ids, " ".join(texts),
                min_tf=int(spec.get("min_term_freq", 2)),
                min_df=int(spec.get("min_doc_freq", 5)),
                top_n=int(spec.get("max_query_terms", 25)))
            if not terms:
                return si._empty()
            out = si.search(sorted(set(terms)), size + len(ids),
                            mode=mode)
            out = out.filter(~F.col("doc_id").isin(ids))
            w = Window.orderBy(F.asc("rank"))
            return (out.withColumn(
                        "rank",
                        (F.row_number().over(w) - 1).cast("bigint"))
                    .filter(F.col("rank") < size)
                    .select("rank", "doc_id", "score"))
        if texts:
            # free-text like: keywords from analyzing the text against
            # the index's df statistics (driver-side — one short
            # string), then the usual OR retrieval; nothing to exclude
            terms = si.keywords_from_text(
                " ".join(texts),
                min_tf=int(spec.get("min_term_freq", 2)),
                min_df=int(spec.get("min_doc_freq", 5)),
                top_n=int(spec.get("max_query_terms", 25)))
            if not terms:
                return si._empty()
            return si.search(sorted(set(terms)), size, mode=mode)
        if not ids:
            raise ValueError(
                "more_like_this needs like: [{'_id': ...}] docs or "
                "free-text strings")
        kw = si.keywords_tf_idf(
            ids,
            min_tf=int(spec.get("min_term_freq", 2)),
            min_df=int(spec.get("min_doc_freq", 5)),
            top_n=int(spec.get("max_query_terms", 25)))
        terms = sorted({r["term"] for r in kw.collect()})
        if not terms:
            return si._empty()
        out = si.search(terms, size + len(ids), mode=mode)
        out = out.filter(~F.col("doc_id").isin(ids))
        w = Window.orderBy(F.asc("rank"))
        return (out.withColumn(
                    "rank",
                    (F.row_number().over(w) - 1).cast("bigint"))
                .filter(F.col("rank") < size)
                .select("rank", "doc_id", "score"))

    if kind == "match_all":
        # every live doc at a constant score (the ES boost, default 1.0);
        # ES hit order for equal scores is internal — here it's the
        # engine-wide deterministic tie-break, doc_id asc
        si = one()
        boost = float(spec.get("boost", 1.0))
        store = si._exclude_dead(si.doc_store()).select("doc_id")
        topk = store.orderBy(F.asc("doc_id")).limit(size)
        w = Window.orderBy(F.asc("doc_id"))
        return topk.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.lit(boost).alias("score"))

    if kind == "constant_score":
        # filter-context evaluation (non-scoring, cacheable in ES), every
        # hit at score = boost. Rank order is inherited from the zero-
        # score filter ranking: all-equal scores -> doc_id asc.
        si = one()
        filt = spec.get("filter")
        if not filt:
            raise ValueError("constant_score needs a filter clause")
        boost = float(spec.get("boost", 1.0))
        if isinstance(filt, dict) and "bool" in filt:
            # a bool FILTER (the canonical cacheable-filter shape):
            # evaluate it as a filter-only tree node — membership at
            # score 0, every nesting level, then the constant boost
            tree = {"must": [], "should": [], "must_not": [],
                    "filter": [_bool_to_tree(si, filt["bool"])],
                    "minimum_should_match": 0}
            out = si.search_bool_tree(tree, k=size)
            return out.select("rank", "doc_id",
                              F.lit(boost).alias("score"))
        out = si.search_bool(
            k=size,
            filter=[filt] if isinstance(filt, dict) else list(filt))
        return out.select("rank", "doc_id", F.lit(boost).alias("score"))

    if kind == "boosting":
        # positive scores BM25; negative-matching docs are demoted by
        # negative_boost — exact over the full positive match set
        # (SegmentIndex.search_boosting)
        nb = float(spec.get("negative_boost", 0.5))
        try:
            pos_t = _or_query_text(spec["positive"])
            neg_t = _or_query_text(spec["negative"])
        except ValueError:
            raise ValueError(
                "boosting positive/negative must be OR-matching "
                "(match / query_string / multi_match)")
        return one().search_boosting(pos_t, neg_t, size,
                                     negative_boost=nb)

    if kind == "script_score":
        # ES 7 exact vector search: {"script_score": {"query": {...},
        # "script": {"source": "cosineSimilarity(params.qv, '<field>')
        # + 1.0", "params": {"qv": [...]}}}} — the canonical
        # dense_vector-era body. Score = cos + const over the inner
        # query's COMPLETE match set (ES applies the script to every
        # matching doc), exact, 6 dp, doc_id tie-break. Other script
        # sources raise: a general Painless evaluator would be a
        # per-row interpreter, the opposite of the engine's
        # vectorized contract.
        if vectors is None:
            raise ValueError(
                "script_score cosineSimilarity needs vectors= (doc id "
                "column + the dense_vector field)")
        import re as _re

        script = spec.get("script") or {}
        src = str(script.get("source", ""))
        m = _re.fullmatch(
            r"\s*cosineSimilarity\(\s*params\.(\w+)\s*,\s*"
            r"'([\w.]+)'\s*\)\s*(?:\+\s*([0-9.]+)\s*)?", src)
        if not m:
            raise ValueError(
                "unsupported script_score script (supported grammar: "
                f"cosineSimilarity(params.<v>, '<field>') [+ <const>]): "
                f"{src!r}")
        pname, fld = m.group(1), m.group(2)
        const = float(m.group(3) or 0.0)
        params = script.get("params") or {}
        if pname not in params:
            raise ValueError(f"script_score params missing {pname!r}")
        qvec = [float(x) for x in params[pname]]
        inner = spec.get("query") or {"match_all": {}}
        si = one()
        ms = _query_match_set(si, inner.get("query", inner))
        from ..operators.similarity import as_double, cosine

        rel = vectors.select(
            F.col(vec_id_col).cast("bigint").alias("doc_id"),
            as_double(F.col(fld)).alias("__v"))
        if ms is not None:
            rel = rel.join(ms, "doc_id", "left_semi")
        rel = si._exclude_dead(rel)
        qlit = F.lit(qvec).cast("array<double>")
        scored = rel.select(
            "doc_id",
            F.round(cosine(F.col("__v"), qlit) + F.lit(const), 6)
            .alias("score"))
        return _rank_topk(scored, size)

    if kind == "function_score":
        # relevance combined with per-doc boosts — exact over the full
        # match set. Two ES shapes:
        # a functions LIST of filter+weight functions (score_mode /
        # boost_mode / max_boost), or a single field_value_factor.
        inner = spec.get("query")
        if not inner:
            raise ValueError("function_score needs an inner query")
        fns = spec.get("functions")
        if fns is not None:
            mb = spec.get("max_boost")
            si = one()
            ik, ispec = next(iter(inner.items()))
            # a bool inner query routes as its tree (served exactly off
            # the complete single-scan tree relation); OR-matching kinds
            # score through score_all
            iq = (_bool_to_tree(si, ispec) if ik == "bool"
                  else _or_query_text(inner))
            return si.search_function_score_fns(
                iq, list(fns), size,
                score_mode=str(spec.get("score_mode", "multiply")),
                boost_mode=str(spec.get("boost_mode", "multiply")),
                max_boost=float(mb) if mb is not None else None)
        fvf = spec.get("field_value_factor")
        if not isinstance(fvf, dict) or "field" not in fvf:
            raise ValueError(
                "function_score supports a functions list of "
                "filter+weight functions, or field_value_factor "
                "with a field")
        si = one()
        ik, ispec = next(iter(inner.items()))
        iq = (_bool_to_tree(si, ispec) if ik == "bool"
              else _or_query_text(inner))
        return si.search_function_score(
            iq, fvf["field"], size,
            factor=float(fvf.get("factor", 1.0)),
            modifier=str(fvf.get("modifier", "none")),
            missing=float(fvf.get("missing", 1.0)),
            boost_mode=str(spec.get("boost_mode", "multiply")))

    if kind == "dis_max":
        # explicit ES dis_max: each sub-query carries its own text for
        # its own field, combined max + tie_breaker*(sum - max) — the
        # engine's search_dismax with a per-field query dict. A
        # per-sub-query boost rides the match spec
        # ({"match": {"f": {"query": ..., "boost": ...}}}).
        subs = spec.get("queries") or []
        if not subs:
            raise ValueError("dis_max needs a non-empty queries list")
        per_field: dict[str, str] = {}
        boosts = {}
        for sub in subs:
            sk, ss = next(iter(sub.items()))
            if sk != "match":
                raise ValueError("dis_max sub-queries must be match "
                                 "clauses (one field each)")
            field, text = _field_text(ss)
            if field in per_field:
                raise ValueError("dis_max supports one sub-query per "
                                 "field")
            per_field[field] = text
            val = next(iter(ss.values()))
            if isinstance(val, dict) and "boost" in val:
                boosts[field] = float(val["boost"])
        tb = float(spec.get("tie_breaker", 0.0))
        if multi is None:
            if len(per_field) != 1:
                raise ValueError("multi-field dis_max needs a "
                                 "{field: SegmentIndex} dict")
            fidx = {next(iter(per_field)): indexes}
        else:
            fidx = {f: multi[f] for f in per_field}
        return search_dismax(fidx, per_field, size,
                             tie_breaker=tb, boosts=boosts or None)

    if kind == "simple_query_string":
        # the Lucene SimpleQueryParser grammar (r5: the operator subset
        # widened from bare-terms+`|` to the full surface): `+` AND,
        # `|` OR, leading `-` negation, `"..."` phrases with `~N` slop,
        # trailing-`*` prefixes, `term~N` fuzzies, `( )` grouping —
        # NO precedence, strict left-to-right combination (the
        # SimpleQueryParser contract), compiled to a left-deep
        # search_bool_tree. Bare no-operator queries keep the cheap
        # query_string fast path; multi-field bodies support the
        # operator-free / pure-`|` shapes only (per-field trees with a
        # DisMax combine would be a different scoring model than the
        # per-term dis_max SQS actually builds — rejected honestly).
        text = str(spec["query"])
        dop = str(spec.get("default_operator", "or")).lower()
        has_ops = any(ch in text for ch in "+-\"*()~|")
        names, _ = _parse_boosts(list(spec.get("fields") or []))
        if not has_ops:
            qtext = (" AND ".join(text.split()) if dop == "and"
                     else text)
            inner = {k: v for k, v in spec.items()
                     if k not in ("query", "default_operator")}
            inner["query"] = qtext
            return es_search(indexes, {"query_string": inner},
                             size=size, tie_breaker=tie_breaker,
                             mode=mode)
        if multi is not None and names and len(names) > 1:
            # pure `|` disjunctions still ride the multi-field
            # query_string path; operator grammars are single-field
            if (set(text) & set('+-"*()~')) or dop == "and":
                raise ValueError(
                    "multi-field simple_query_string supports only "
                    "the operator-free / pure-`|` shapes")
            inner = {k: v for k, v in spec.items()
                     if k not in ("query", "default_operator")}
            inner["query"] = " OR ".join(
                s.strip() for s in text.split("|") if s.strip())
            return es_search(indexes, {"query_string": inner},
                             size=size, tie_breaker=tie_breaker,
                             mode=mode)
        si = one(names[0] if names else None)
        node = _sqs_tree(si, text, dop)
        if node is None:
            return si._empty()
        return si.search_bool_tree(node, k=size)

    if kind in ("term", "terms", "range", "exists"):
        # a filter-context metadata clause promoted to a whole query (ES
        # constant-score): every live doc row it admits — for term, the
        # exact keyword lookup (the reference's url -> _id translation).
        # Tombstoned docs never match (the ES 404 on a deleted id).
        from .search import _meta_filter_pred

        _, mc = one()._parse_filters([q])
        return one()._exclude_dead(
            one().doc_store().filter(
                _meta_filter_pred(mc, one()._store_schema())))

    if kind == "ids":
        # {"ids": {"values": [...]}} -> doc-store point lookups
        # (get_docs already excludes tombstones — the ES 404)
        return one().get_docs([int(v) for v in spec.get("values", [])])

    if kind == "wrapper":
        # ES wrapper query: a base64-encoded JSON query smuggled through
        # systems that can't carry structured bodies — decode and
        # re-dispatch (any supported kind)
        import base64
        import json as _json

        raw = base64.b64decode(str(spec["query"]))
        inner = _json.loads(raw)
        return es_search(indexes, {"query": inner}, size=size,
                         tie_breaker=tie_breaker, mode=mode,
                         source=source, vectors=vectors,
                         vec_id_col=vec_id_col, ann=ann)

    if kind == "rank_feature":
        # ES rank_feature: docs carrying the feature field, scored by a
        # monotone function of its value — boost * saturation
        # x/(x+pivot), boost * log ln(scaling_factor + x), or boost *
        # sigmoid x^e/(x^e + pivot^e). Docs without the field do not
        # match (the ES contract). Pure doc-store Catalyst: pushed-down
        # notNull scan + one expression + TakeOrderedAndProject — no
        # postings, no Python. ES's pivot-less saturation default (an
        # approximate geometric mean) is rejected honestly: pass the
        # pivot. To COMBINE with relevance the way ES users put
        # rank_feature in bool.should, use function_score
        # (field_value_factor / functions list, boost_mode=sum) — same
        # algebra, served exactly over the complete match set.
        feat = str(spec["field"])
        boost = float(spec.get("boost", 1.0))
        x = F.col(feat).cast("double")
        if "log" in spec:
            sf = float(spec["log"]["scaling_factor"])
            fx = F.log(F.lit(sf) + x)
        elif "sigmoid" in spec:
            piv = float(spec["sigmoid"]["pivot"])
            ex = float(spec["sigmoid"]["exponent"])
            fx = (F.pow(x, ex)
                  / (F.pow(x, ex) + F.lit(piv ** ex)))
        else:
            sat = spec.get("saturation") or {}
            if "pivot" not in sat:
                raise ValueError(
                    "rank_feature needs saturation.pivot (or log / "
                    "sigmoid) — ES's pivot-less default is an "
                    "approximate corpus statistic, not reproducible")
            piv = float(sat["pivot"])
            fx = x / (x + F.lit(piv))
        si = one()
        scored = (si._exclude_dead(si.doc_store())
                  .filter(x.isNotNull())
                  .select("doc_id",
                          F.round(F.lit(boost) * fx, 6).alias("score")))
        return _rank_topk(scored, size)

    if kind == "terms_set":
        # ES terms_set: {"terms_set": {field: {"terms": [...],
        # "minimum_should_match_field": col}}} (or the ES 8.10+ constant
        # "minimum_should_match": m). A doc matches when the number of
        # DISTINCT query terms it contains reaches its per-doc minimum
        # (Lucene CoveringQuery); scoring is the bool-should sum of the
        # matched terms' BM25 partials. Plan: ONE pruned postings scan
        # (_term_scores — each posting decoded/scored once), one hash
        # aggregation (distinct-term count + score sum), and for the
        # field form one join against the doc-store msm column — no
        # corpus scan, no per-row Python.
        field, tspec = next(iter(spec.items()))
        si = one(field)
        raw_terms = [str(t) for t in (tspec.get("terms") or [])]
        if not raw_terms:
            raise ValueError("terms_set needs a non-empty terms list")
        toks: list[str] = []
        for t in raw_terms:
            at = si.analyze_query(t)
            if len(at) > 1:
                raise ValueError(
                    f"terms_set term {t!r} analyzes to multiple tokens")
            toks.extend(at)  # analyzer-dropped terms contribute nothing
        toks = sorted(set(toks))
        msm_field = tspec.get("minimum_should_match_field")
        msm_const = tspec.get("minimum_should_match")
        if (msm_field is None) == (msm_const is None):
            raise ValueError(
                "terms_set needs exactly one of "
                "minimum_should_match_field / minimum_should_match")
        if not toks:
            return si._empty()
        agg = (si._term_scores(toks)
               .groupBy("doc_id")
               .agg(F.countDistinct("term").alias("_n"),
                    F.round(F.sum("score"), 6).alias("score")))
        if msm_field is not None:
            # per-doc minimum clamped to >= 1 (a scorer only ever
            # iterates docs with at least one matching term — the
            # Lucene CoveringQuery floor)
            mm = si.doc_store().select(
                "doc_id",
                F.col(str(msm_field)).cast("bigint").alias("_m"))
            agg = (agg.join(mm, "doc_id")
                   .filter(F.col("_n")
                           >= F.greatest(F.col("_m"), F.lit(1))))
        else:
            m = int(msm_const)
            if m > len(toks):
                return si._empty()
            agg = agg.filter(F.col("_n") >= F.lit(max(m, 1)))
        hits = si._exclude_dead(agg)
        return _rank_topk(hits, size)

    if kind == "pinned":
        # ES pinned query: the listed ids rank FIRST, in list order,
        # ahead of the organic query's hits (which exclude them); ids
        # absent from the index or tombstoned are dropped, like ES.
        # ES gives pinned hits huge synthetic scores (an implementation
        # detail near float32-max); the engine's documented convention
        # is score = 1e12 * (len(ids) - position) — provably above any
        # BM25 sum at these corpus sizes and exact in float64, so the
        # oracle can reproduce it bit-for-bit.
        ids = [int(v) for v in (spec.get("ids") or [])]
        organic = spec.get("organic")
        if not ids or organic is None:
            raise ValueError("pinned needs ids + an organic query")
        if len(set(ids)) != len(ids):
            raise ValueError("pinned ids must be unique")
        si = one()
        pins = si.spark.createDataFrame(
            [(int(i), p) for p, i in enumerate(ids)],
            "doc_id bigint, _pos int")
        live = si._exclude_dead(si.doc_store().select("doc_id"))
        pinned = (pins.join(live, "doc_id", "left_semi")
                  .select("doc_id", F.lit(0).alias("_grp"),
                          F.col("_pos").cast("double").alias("_ord"),
                          ((F.lit(float(len(ids))) - F.col("_pos"))
                           * F.lit(1e12)).alias("score")))
        # organic over-fetches by len(ids): even if every pinned id
        # also ranks organically, size post-exclusion hits remain
        org = es_search(indexes, {"query": organic},
                        size=size + len(ids),
                        tie_breaker=tie_breaker, mode=mode)
        if "rank" not in org.columns:
            raise ValueError("pinned organic must be a ranked query")
        # organic block re-ranked on the 6dp-rounded score with the
        # engine-wide doc_id tie-break (the score determinism contract —
        # raw-score paths like plain match are re-ranked the same way
        # the indexed gates are)
        org = (org.join(F.broadcast(pins.select("doc_id")), "doc_id",
                        "left_anti")
               .select("doc_id", F.lit(1).alias("_grp"),
                       (-F.round(F.col("score"), 6)).alias("_ord"),
                       F.round(F.col("score"), 6).alias("score")))
        both = pinned.unionByName(org)
        w = Window.orderBy(F.asc("_grp"), F.asc("_ord"), F.asc("doc_id"))
        return (both.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
            "doc_id", "score")
            .filter(F.col("rank") < size))

    raise ValueError(f"unsupported query kind: {kind}")


def _es_terms_and_index(indexes, q: dict):
    """(SegmentIndex, analyzed OR terms) of a single-field OR-matching
    query dict — the sub-shape rescore/collapse accept."""
    kind, spec = next(iter(q.items()))
    if kind == "match":
        field, text = _field_text(spec)
    elif kind in ("query_string", "multi_match"):
        op, parts = _parse_query_string(str(spec["query"]))
        if op != "or":
            raise ValueError("this clause must be OR-matching")
        names, boosts = _parse_boosts(list(spec.get("fields") or []))
        if len(names) > 1 or boosts:
            raise ValueError("this clause must target ONE unboosted field")
        field, text = (names[0] if names else None), parts[0]
    else:
        raise ValueError(f"unsupported query kind here: {kind}")
    si = (indexes[field]
          if isinstance(indexes, dict) and field in indexes
          else indexes if not isinstance(indexes, dict)
          else next(iter(indexes.values())))
    return si, sorted(set(si.analyze_query(text)))


def _es_rescore(indexes, body: dict, rs: dict, size: int, *,
                tie_breaker: float, mode: str) -> DataFrame:
    """ES `rescore`: re-rank the top `window_size` hits of the base query
    by query_weight * base + rescore_query_weight * rescore (the classic
    cheap-retrieve / precise-re-rank split); hits past the window keep
    their base order below the rescored block, exactly ES's concat.

    Plan: the base query runs as usual; the window is k-bounded (the ES
    contract — rescore NEVER touches the full match set), so the
    re-scoring is one pruned-scan job restricted to the window's
    doc_parts (_scores_for_docs, the same rank-safe-pruning primitive
    the phrase/bool driver regimes use) and the merge is O(window) on
    the driver. Combined scores round 6dp like every ranked method."""
    import pandas as pd
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:
        # F.round / DuckDB round semantics (HALF_UP), not python's
        # half-even — scores compare 6dp-rounded everywhere in the gate
        return float(Decimal(repr(float(x)))
                     .quantize(Decimal("0.000001"),
                               rounding=ROUND_HALF_UP))

    rq = rs["query"]
    window = int(rs.get("window_size", max(size, 10)))
    qw = float(rq.get("query_weight", 1.0))
    rw = float(rq.get("rescore_query_weight", 1.0))
    inner = {k: v for k, v in body.items() if k != "rescore"}
    base = es_search(indexes, inner, size=max(window, size),
                     tie_breaker=tie_breaker, mode=mode)
    if "rank" not in base.columns:
        raise ValueError("rescore needs a ranked base query")
    si, terms = _es_terms_and_index(indexes, rq["rescore_query"])
    rows = sorted(base.collect(), key=lambda r: r["rank"])
    win, tail = rows[:window], rows[window:size]
    import numpy as np

    ids = np.array([r["doc_id"] for r in win], dtype=np.int64)
    sp = si._scores_for_docs(terms, ids) if len(win) and terms else None
    rmap = (dict(zip(sp["doc_id"].tolist(), sp["score"].tolist()))
            if sp is not None else {})
    # the base leg combines at its PUBLIC 6dp precision (what any pager
    # of the base query sees), the rescore leg raw — then one final 6dp
    combined = sorted(
        ((r6(qw * r6(r["score"]) + rw * rmap.get(r["doc_id"], 0.0)),
          r["doc_id"]) for r in win),
        key=lambda t: (-t[0], t[1]))
    out = [(i, d, s) for i, (s, d) in enumerate(combined)][:size]
    out += [(len(out) + j, r["doc_id"], r6(r["score"]))
            for j, r in enumerate(tail)]
    spark = si.spark
    return spark.createDataFrame(
        pd.DataFrame(out, columns=["rank", "doc_id", "score"])
        if out else [],
        "rank bigint, doc_id bigint, score double")


def _es_collapse(indexes, body: dict, col_spec: dict,
                 size: int) -> DataFrame:
    """ES `collapse`: field collapsing — one hit per distinct value of a
    doc-store column, each group represented by its best hit, top-k over
    the group winners. Returns (rank, doc_id, score, <field>).

    Plan: complete score relation off the pruned segment scan
    (score_all) joined to the doc_store's (doc_id, field) projection
    (pushed-down two-column scan), one window per field value, one
    global top-k — exact over the ENTIRE match set, not a re-grouped
    top-window approximation. Tombstoned docs drop before grouping, so
    a dead group-winner never shadows its group."""
    fld = str(col_spec["field"])
    si, terms = _es_terms_and_index(indexes, body["query"])
    if not terms:
        return si.spark.createDataFrame(
            [], f"rank bigint, doc_id bigint, score double, {fld} string")
    rel = si.score_all(terms)
    store = si._exclude_dead(si.doc_store()).select("doc_id", fld)
    j = rel.join(store, "doc_id").select(
        "doc_id", fld, F.round("score", 6).alias("score"))
    wg = Window.partitionBy(fld).orderBy(F.desc("score"), F.asc("doc_id"))
    best = (j.withColumn("_rn", F.row_number().over(wg))
            .filter(F.col("_rn") == 1).drop("_rn"))
    return _rank_topk(best, size, fld)


def es_suggest(index: SegmentIndex, body: dict) -> DataFrame:
    """ES term suggester (`suggest` bodies): spell-correction candidates
    from the INDEX DICTIONARY by Levenshtein distance — the es.suggest
    endpoint surface. Each named suggester takes {"text": ...,
    "term": {max_edits, size, suggest_mode}}; suggest_mode 'missing'
    (the ES default) only corrects analyzed tokens absent from the
    dictionary, 'always' corrects every token.

    Returns one relation: (suggest, token, option, dist, freq) — freq is
    the option's doc freq, options ranked (dist asc, freq desc, option
    asc) per token, `size` per token. Plan: the token list broadcasts
    against the term_stats dictionary scan, distance JVM-side
    (F.levenshtein), one window per token — no corpus scan."""
    sugg = body.get("suggest", body)
    spark = index.spark
    schema = ("suggest string, token string, option string, "
              "dist int, freq bigint")
    outs = []
    for name, spec in sugg.items():
        if "completion" in spec:
            # ES completion suggester, mapped honestly onto the index:
            # prefix expansion against the term dictionary ranked by
            # doc-freq desc (ES ranks by indexed per-suggestion weights;
            # this engine's weight IS the dictionary df — documented
            # divergence, same prefix-FST access pattern). The
            # startswith predicate pushes to the term_stats parquet
            # scan (StringStartsWith row-group pruning).
            cspec = spec["completion"]
            prefix = str(spec.get("prefix", spec.get("text", "")))
            if not prefix:
                raise ValueError("completion suggester needs a prefix")
            per = int(cspec.get("size", 5))
            cand = (index._tstats
                    .filter(F.col("term").startswith(prefix.lower()))
                    .orderBy(F.desc("df"), F.asc("term")).limit(per))
            outs.append(cand.select(
                F.lit(name).alias("suggest"),
                F.lit(prefix).alias("token"),
                F.col("term").alias("option"),
                F.lit(0).cast("int").alias("dist"),
                F.col("df").cast("bigint").alias("freq")))
            continue
        text = str(spec["text"])
        tspec = spec.get("term") or {}
        max_edits = int(tspec.get("max_edits", 1))
        per = int(tspec.get("size", 5))
        smode = tspec.get("suggest_mode", "missing")
        toks = sorted(set(index.analyze_query(text)))
        if smode == "missing":
            dfs = index.term_dfs(toks)
            toks = [t for t in toks if dfs.get(t, 0) == 0]
        elif smode != "always":
            raise ValueError(f"unsupported suggest_mode: {smode}")
        if not toks:
            continue
        tok_df = spark.createDataFrame([(t,) for t in toks],
                                       "token string")
        cand = (index._tstats.crossJoin(F.broadcast(tok_df))
                .withColumn("dist",
                            F.levenshtein(F.col("term"), F.col("token")))
                .filter((F.col("dist") <= max_edits)
                        & (F.col("term") != F.col("token"))))
        wt = Window.partitionBy("token").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term"))
        outs.append(
            cand.withColumn("_rn", F.row_number().over(wt))
            .filter(F.col("_rn") <= per)
            .select(F.lit(name).alias("suggest"), "token",
                    F.col("term").alias("option"),
                    F.col("dist").cast("int").alias("dist"),
                    F.col("df").cast("bigint").alias("freq")))
    if not outs:
        return spark.createDataFrame([], schema)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def es_count(indexes, body: dict) -> DataFrame:
    """ES `_count`: the number of docs matching a query, no ranking.

    Returns a one-row (count bigint) relation. Match sets come from the
    cheapest complete source per kind: postings MEMBERSHIP for the
    OR-matching kinds (no scoring pass at all — _term_docs), the
    single-scan tree relation for bool (complete by construction,
    nested or flat), and a pushed-down doc_store predicate for the
    metadata lookup kinds (term / terms / range / exists). Tombstoned
    docs are excluded, matching every query surface."""
    q = body.get("query", body)
    kind, spec = next(iter(q.items()))
    if kind == "bool":
        # the tree relation is COMPLETE by construction (no top-k),
        # flat bodies included — count it directly, no ranking pass
        si = (next(iter(indexes.values()))
              if isinstance(indexes, dict) else indexes)
        rel = si._bool_tree(_bool_to_tree(si, spec))
        if rel is None:
            rel = si.spark.createDataFrame([], "doc_id bigint, score double")
        rel = si._exclude_dead(rel.select("doc_id"))
        return rel.agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    if kind in ("match", "query_string", "multi_match"):
        si, terms = _es_terms_and_index(indexes, q)
        if not terms:
            rel = si.spark.createDataFrame([], "doc_id bigint")
        else:
            rel = si._exclude_dead(
                si._term_docs(terms).select("doc_id").distinct())
        return rel.agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    if kind in ("term", "terms", "range", "exists"):
        from .search import _meta_filter_pred

        si = (next(iter(indexes.values()))
              if isinstance(indexes, dict) else indexes)
        _, mc = si._parse_filters([q])
        rel = si._exclude_dead(
            si.doc_store().filter(_meta_filter_pred(mc, si._store_schema()))
            .select("doc_id"))
        return rel.agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    if kind == "match_all":
        si = (next(iter(indexes.values()))
              if isinstance(indexes, dict) else indexes)
        rel = si._exclude_dead(si.doc_store().select("doc_id"))
        return rel.agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    if kind in ("prefix", "fuzzy", "wildcard", "regexp"):
        # expansion kinds count postings MEMBERSHIP of the same bounded
        # dictionary expansion the ranked query runs
        si = (next(iter(indexes.values()))
              if isinstance(indexes, dict) else indexes)
        _, v = _field_text(spec)
        es = next(iter(spec.values()))
        es = es if isinstance(es, dict) else {}
        mx = int(es.get("max_expansions", 50))
        if kind == "prefix":
            exp = si.expand_prefix(v, max_expansions=mx)
        elif kind == "wildcard":
            exp = si.expand_wildcard(v, max_expansions=mx)
        elif kind == "regexp":
            exp = si.expand_regexp(v, max_expansions=mx)
        else:
            fz = es.get("fuzziness", 1)
            me = (0 if len(v) < 3 else (1 if len(v) < 6 else 2)) \
                if isinstance(fz, str) else int(fz)
            exp = si.expand_fuzzy(
                v, max_edits=me,
                prefix_len=int(es.get("prefix_length", 0)),
                max_expansions=mx)
        if not exp:
            rel = si.spark.createDataFrame([], "doc_id bigint")
        else:
            rel = si._exclude_dead(
                si._term_docs(exp).select("doc_id").distinct())
        return rel.agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    if kind in ("terms_set", "rank_feature"):
        # membership forms of the ranked kinds (terms_set: distinct-term
        # count vs per-doc/constant minimum, no scoring; rank_feature:
        # pushed-down field-exists predicate)
        si = (next(iter(indexes.values()))
              if isinstance(indexes, dict) else indexes)
        ms = _query_match_set(si, q)
        rel = si._exclude_dead(ms.select("doc_id"))
        return rel.agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    if kind == "pinned":
        # ES counts the UNION of the organic match set and the live
        # pinned ids (pinning reorders, it doesn't widen beyond the
        # listed docs)
        si = (next(iter(indexes.values()))
              if isinstance(indexes, dict) else indexes)
        ids = [int(v) for v in (spec.get("ids") or [])]
        organic = spec.get("organic")
        if not ids or organic is None:
            raise ValueError("pinned needs ids + an organic query")
        pins = si.spark.createDataFrame([(i,) for i in set(ids)],
                                        "doc_id bigint")
        live_pins = si._exclude_dead(
            pins.join(si.doc_store().select("doc_id"), "doc_id",
                      "left_semi"))
        # the organic MEMBERSHIP relation (match/bool/exists/match_all
        # via _query_match_set; other organics raise honestly), unioned
        # with the live pinned ids, deduped
        ms = _query_match_set(si, organic)
        if ms is None:
            rel = si._exclude_dead(si.doc_store().select("doc_id"))
        else:
            rel = si._exclude_dead(ms.select("doc_id"))
        union = rel.unionByName(live_pins.select("doc_id")).distinct()
        return union.agg(
            F.count(F.lit(1)).cast("bigint").alias("count"))
    raise ValueError(f"unsupported count query kind: {kind}")


def es_msearch(indexes, bodies: list[dict], size: int = 10, *,
               mode: str = "taat",
               vectors: DataFrame | None = None,
               vec_id_col: str = "doc_id") -> DataFrame:
    """ES `_msearch`: evaluate MANY search bodies in ONE engine pass.

    The reference's experiment loops issue one es.search per topic and
    pay a full scatter-gather round trip each
    (netzpolitik/experiments/keyword_match_recall.py:30-43 inside a
    topic loop); ES's own batching answer is the _msearch endpoint. Here
    the batch routes to SegmentIndex.search_many — one pass in which
    each doc_part decodes every posting ONCE and scores all queries,
    duplicate bodies deduped and fanned back out: no Spark job and no
    JVM call under SEARCH_DRIVER_CAP on a warm index, else ONE job, so
    per-query job overhead amortizes across the batch (the scale
    throughput shape).

    Any ranked body is accepted: plain single-field OR-matching kinds
    (match / pure-OR query_string / multi_match) BATCH — grouped per
    target field, one search_many pass per group — and every other body
    (bool, dis_max, function_score, expansions, boolean grammars,
    wrapper keys like sort/rescore/collapse) falls back to its own
    es_search, exactness unchanged. Returns (query_id, rank, doc_id,
    score); query_id is the body's 0-based position as a string (the ES
    responses-array order), each query's block identical to its own
    es_search (pytest-pinned). Bodies whose es_search output is not the
    ranked (rank, doc_id, score) shape (highlight's tagged column,
    sort's sort-column output) are rejected: one relation, one schema.
    A negative `size` or body `from` is ES's 400 (ValueError), raised
    before any body runs. When every part is a LocalFrame (each body
    ran in a driver regime) the parts' numpy columns concatenate, in
    part order, into one LocalFrame — no Spark job and no JVM call, except
    composition; otherwise they union as DataFrames."""
    import numpy as np

    if not bodies:
        raise ValueError("msearch needs at least one body")
    for b in bodies:
        _page_offset(b, size)
    _WRAPPERS = ("sort", "search_after", "rescore", "collapse",
                 "highlight", "from", "from_", "suggest", "aggs",
                 "aggregations", "knn")
    groups: dict = {}               # field -> {qid: text}
    rest: list[tuple[str, dict]] = []
    for i, b in enumerate(bodies):
        q = b.get("query", b)
        kind, spec = next(iter(q.items()))
        f = text = None
        batchable = not any(k in b for k in _WRAPPERS)
        if batchable and kind == "match":
            f, text = _field_text(spec)
            val = next(iter(spec.values()))
            if isinstance(val, dict):
                # any semantics-bearing option -> per-body es_search
                # (which honors or rejects it; batching would silently
                # run the plain OR)
                batchable = (
                    str(val.get("operator", "or")).lower() == "or"
                    and val.get("minimum_should_match") is None
                    and float(val.get("boost", 1.0)) == 1.0
                    and "fuzziness" not in val)
        elif batchable and kind in ("query_string", "multi_match"):
            op, parts = _parse_query_string(str(spec["query"]))
            names, boosts = _parse_boosts(list(spec.get("fields") or []))
            dop = str(spec.get("default_operator", "or")).lower()
            if (op == "or" and dop == "or" and not boosts
                    and len(names) <= 1):
                f = names[0] if names else None
                text = parts[0]
            else:
                batchable = False
        else:
            batchable = False
        if batchable:
            groups.setdefault(f, {})[str(i)] = text
        else:
            rest.append((str(i), b))
    outs = []
    for f, texts in groups.items():
        si = (indexes[f]
              if isinstance(indexes, dict) and f in indexes
              else indexes if not isinstance(indexes, dict)
              else next(iter(indexes.values())))
        outs.append(si.search_many(texts, size, mode=mode))
    for qid, b in rest:
        out = es_search(indexes, b, size=size, mode=mode,
                        vectors=vectors, vec_id_col=vec_id_col)
        if set(out.columns) != {"rank", "doc_id", "score"}:
            raise ValueError(
                "msearch bodies must produce ranked (rank, doc_id, "
                "score) responses — run highlight/sort bodies through "
                "es_search directly")
        if isinstance(out, LocalFrame):
            outs.append(LocalFrame(out.sparkSession, {
                **out._cols, "query_id": np.full(out.count(), qid, object)},
                MANY_SCHEMA))
        else:
            outs.append(out.select(
                F.lit(qid).alias("query_id"), "rank", "doc_id", "score"))
    if all(isinstance(o, LocalFrame) for o in outs):
        if len(outs) == 1:
            return outs[0]
        return LocalFrame(outs[0].sparkSession, {
            c: np.concatenate([o._cols[c] for o in outs])
            for c in outs[0]._cols}, MANY_SCHEMA)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def es_scroll(indexes, body: dict, *, page_size: int = 100,
              max_pages: int | None = None):
    """ES scroll / point-in-time pagination as a generator of page
    DataFrames — the deep-export shape (`scroll=1m` / PIT +
    `search_after` in ES 8). Each page is an exact continuation: the
    cursor cut runs INSIDE the per-part scorers
    (SegmentIndex.search(after=...)), so the skipped prefix is never
    re-materialized — unlike from/size, page N costs the same as page 1.
    The index is immutable between pages (a real PIT: tombstones laid
    down mid-scroll do not change an open scroll's view only if the
    caller holds the page DataFrames; re-collecting re-reads — document
    shape, like ES's refresh semantics).

    Supported bodies: the search_after-able shapes (single-field
    unboosted OR queries — match / pure-OR query_string / multi_match).
    Yields (rank, doc_id, score) pages re-ranked from 0 like ES scroll
    responses; stops at the first short page (or after max_pages).
    """
    cursor = None
    pages = 0
    while max_pages is None or pages < max_pages:
        b = dict(body)
        if cursor is not None:
            b["search_after"] = [cursor[0], cursor[1]]
        page = es_search(indexes, b, size=page_size)
        rows = page.collect()
        if not rows:
            return
        import pandas as pd  # local: keep the module import surface flat

        si0 = (next(iter(indexes.values()))
               if isinstance(indexes, dict) else indexes)
        yield si0.spark.createDataFrame(
            pd.DataFrame({
                "rank": [r["rank"] for r in rows],
                "doc_id": [r["doc_id"] for r in rows],
                "score": [r["score"] for r in rows]}),
            "rank bigint, doc_id bigint, score double")
        last = rows[-1]
        cursor = (float(last["score"]), int(last["doc_id"]))
        pages += 1
        if len(rows) < page_size:
            return


def es_search_indices(indices: dict, body: dict,
                      size: int = 10) -> DataFrame:
    """ES multi-INDEX search — ``GET /idx1,idx2/_search``, the surface
    that unifies the reference's two separate corpora (it maintains one
    ES index per corpus, netzpolitik/index_es.py + wapo/index_es.py,
    and queries them index by index). The SAME body runs against every
    index, each with its OWN corpus statistics (ES computes BM25 per
    shard/index — no global DFS by default), hits carry their index
    name, and the coordinating merge re-ranks the union by
    (score desc, index asc, doc_id asc), scores compared at the 6dp
    wire precision (the engine's rounding convention; ES merges at
    float32 wire precision the same way). Exact for any ranked body
    es_search accepts: each index contributes its own top-`size`, so
    the global top-`size` is a subset of the union.

    `indices` maps index name -> SegmentIndex (or a field->index dict
    for multi-field bodies). Returns (rank, idx, doc_id, score);
    doc_ids are per-index ids — (idx, doc_id) is the hit identity,
    exactly the ES (_index, _id) pair.

    Plan shape: per index the body's own plan (WAND/driver regimes
    untouched), then a union of <= len(indices)*size rows and one
    global window — the merge never touches postings, like the ES
    coordinating node."""
    if not indices:
        raise ValueError("es_search_indices needs at least one index")
    parts = []
    for name in sorted(indices):
        out = es_search(indices[name], body, size=size)
        parts.append(out.select(
            F.lit(str(name)).alias("idx"), "doc_id",
            F.round("score", 6).alias("score")))
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    w = Window.orderBy(F.desc("score"), F.asc("idx"), F.asc("doc_id"))
    return (un.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("rank"),
        "idx", "doc_id", "score")
        .filter(F.col("rank") < int(size)))


def es_aggs(index: SegmentIndex, body: dict) -> DataFrame:
    """ES aggregations over an index: ``{"query": ..., "aggs": {...}}``.

    ES computes aggregations over EVERY doc matching the query (not the
    top-k hits); here the match set comes from the pruned postings scan
    (`_term_docs` — no corpus scan) semi-joined to the doc store, whose
    metadata columns (``meta_cols`` at build time, the ES ``_source``)
    are the aggregation inputs. Tombstoned docs are excluded (ES skips
    deleted docs in aggs). Without a query the aggs run corpus-wide.

    Supported agg kinds: ``terms`` (bucket counts, ``size`` default 10,
    ties broken key-asc like a deterministic ES shard), ``stats``
    (count/min/max/avg/sum), single metrics (``value_count`` / ``avg`` /
    ``min`` / ``max`` / ``sum`` / exact ``cardinality``),
    ``date_histogram`` with ``calendar_interval`` day|month|year over a
    date/timestamp column, ``histogram`` (fixed numeric interval +
    offset), ``range`` (explicit [from, to) buckets, open bounds keyed
    '*'), ``filters`` (named predicate buckets over the match set —
    match / term / terms / range / exists clauses, the bool
    filter-context grammar), ``percentiles`` (exact interpolated), and
    ``significant_terms`` (JLH foreground vs background over the
    indexed text — routed to ``SegmentIndex.significant_terms``,
    gate-verified). ``terms`` additionally accepts metric
    sub-aggregations (the nested ``aggs`` key): every sub-metric is
    computed in the SAME hash aggregation as the bucket counts — one
    shuffle regardless of sub-agg count — and emitted as
    ``parent.child`` rows against the bucket key.

    Returns ONE flat DataFrame — (agg string, key string, doc_count
    bigint, value double) — the bucket list of every requested agg
    labeled by its name (terms/date_histogram rows carry doc_count;
    metric rows carry value), so results stay a relation the rest of a
    Spark pipeline can join/filter like any other.
    """
    store = index._exclude_dead(index.doc_store())
    q = body.get("query")
    terms: list = []
    if q:
        kind, spec = next(iter(q.items()))
        if kind == "bool":
            # bool scope: the complete single-scan tree relation is the
            # match set (same source es_count uses)
            rel = index._bool_tree(_bool_to_tree(index, spec))
            if rel is None:
                store = store.filter(F.lit(False))
            else:
                store = store.join(rel.select("doc_id"), "doc_id",
                                   "left_semi")
        elif kind in ("term", "terms", "range", "exists"):
            # metadata scope: pushed-down doc_store predicate (the
            # lookup kinds es_count accepts)
            from .search import _meta_filter_pred
            if kind == "exists":
                mc = [("exists", spec["field"], None)]
            else:
                col, sp = next(iter(spec.items()))
                mc = [(kind, col, sp)]
            store = store.filter(
                _meta_filter_pred(mc, index._store_schema()))
        elif kind in ("match", "query_string", "multi_match"):
            if kind == "match":
                _, text = _field_text(spec)
            else:
                text = str(spec["query"])
            terms = index.analyze_query(str(text))
            if terms:
                match = index._term_docs(terms).select(
                    "doc_id").distinct()
                store = store.join(match, "doc_id", "left_semi")
            else:
                store = store.filter(F.lit(False))
        elif kind in ("terms_set", "rank_feature"):
            # membership forms of the round-5 closing kinds — same
            # match-set helper the knn filter / _count scopes use
            ms = _query_match_set(index, q)
            store = store.join(ms.select("doc_id"), "doc_id",
                               "left_semi")
        else:
            raise ValueError(
                f"unsupported aggs query scope: {kind} (match / "
                "query_string / multi_match / bool / term / terms / "
                "range / exists / terms_set / rank_feature)")
    aggs = body.get("aggs", body.get("aggregations") or {})
    if not aggs:
        raise ValueError("body has no aggs")
    out_cols = [F.col("agg"), F.col("key"),
                F.col("doc_count").cast("bigint").alias("doc_count"),
                F.col("value").cast("double").alias("value")]
    outs = []
    # bucket relations by agg name, for sibling pipeline aggs
    # ({avg,sum,min,max}_bucket reference them via buckets_path);
    # pipeline aggs defer to a second pass so order in the body
    # doesn't matter (ES resolves paths the same way)
    bucket_dfs: dict[str, DataFrame] = {}
    _PIPELINE = ("avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
                 "percentiles_bucket")
    deferred: list[tuple[str, str, dict]] = []
    for name, spec in aggs.items():
        sub = spec.get("aggs") or spec.get("aggregations") or {}
        akind, aspec = next(kv for kv in spec.items()
                            if kv[0] not in ("aggs", "aggregations"))
        if akind in _PIPELINE:
            deferred.append((name, akind, aspec))
            continue
        if akind == "global":
            # ES global agg: a corpus-wide bucket INSIDE a scoped body —
            # sub-aggs evaluate against every live doc, ignoring the
            # query (the compare-against-background shape). One row for
            # the bucket itself (doc_count = live corpus size), then the
            # sub-agg relation re-labeled name.sub.
            if not sub:
                raise ValueError("global needs sub-aggregations")
            gstore = index._exclude_dead(index.doc_store())
            cnt = (gstore.agg(F.count(F.lit(1)).alias("doc_count"))
                   .select(F.lit(name).alias("agg"),
                           F.lit("global").alias("key"),
                           "doc_count", F.lit(None).alias("value")))
            outs.append(cnt.select(*out_cols))
            subrel = es_aggs(index, {"aggs": sub})
            outs.append(subrel.select(
                F.concat(F.lit(f"{name}."), F.col("agg")).alias("agg"),
                "key", "doc_count", "value").select(*out_cols))
            continue
        if sub and akind not in ("terms", "date_histogram", "histogram"):
            raise ValueError(
                "sub-aggregations are supported under terms / "
                "date_histogram / histogram buckets")
        if akind in ("significant_terms", "significant_text"):
            # ES significant_terms / significant_text over the indexed
            # text field: this engine analyzes the text into the index,
            # so the two ES kinds coincide (significant_text re-analyzes
            # _source at query time because ES text fields may not be
            # indexed with doc values; here the postings ARE the
            # analyzed text). JLH of
            # the query's foreground (matching docs) vs the corpus
            # background — routed to the gated index operator. key =
            # term, doc_count = foreground df, value = JLH score.
            if not q or not terms:
                raise ValueError("significant_terms needs an OR-matching "
                                 "text query scope")
            st = index.significant_terms(
                terms, top_n=int(aspec.get("size", 10)))
            outs.append(st.select(
                F.lit(name).alias("agg"), F.col("term").alias("key"),
                F.col("fg_df").alias("doc_count"),
                F.col("score").alias("value")).select(*out_cols))
            continue
        if akind == "adjacency_matrix":
            # ES adjacency_matrix: named filter buckets PLUS their
            # pairwise intersections ("a&b" keys, '&' the ES separator)
            # — the co-occurrence matrix shape. Each filter resolves to
            # a membership relation over the scoped match set (same
            # clause grammar as `filters`); intersections are semi-joins
            # of those memberships. Like ES, empty buckets are omitted.
            from .search import _meta_filter_pred
            named = {}
            for bname, fq in aspec["filters"].items():
                if isinstance(fq, dict) and "bool" in fq:
                    rel = index._bool_tree(
                        _bool_to_tree(index, fq["bool"]))
                    m = (store.select("doc_id").filter(F.lit(False))
                         if rel is None
                         else store.join(rel.select("doc_id"), "doc_id",
                                         "left_semi").select("doc_id"))
                else:
                    fc, mc = index._parse_filters([fq])
                    m = store
                    if mc:
                        m = m.filter(_meta_filter_pred(
                            mc, index._store_schema()))
                    for toks in fc:
                        m = m.join(index._term_docs(toks)
                                   .select("doc_id").distinct(),
                                   "doc_id", "left_semi")
                    m = m.select("doc_id")
                named[bname] = m
            parts = []
            order = sorted(named)
            for i, a in enumerate(order):
                parts.append((a, named[a]))
                for bn in order[i + 1:]:
                    parts.append((f"{a}&{bn}",
                                  named[a].join(named[bn], "doc_id",
                                                "left_semi")))
            rels = []
            for label, m in parts:
                rels.append(m.agg(
                    F.count(F.lit(1)).alias("doc_count")).select(
                    F.lit(name).alias("agg"), F.lit(label).alias("key"),
                    "doc_count", F.lit(None).alias("value")))
            b = rels[0]
            for p in rels[1:]:
                b = b.unionByName(p)
            b = b.filter(F.col("doc_count") > 0)
            outs.append(b.select(*out_cols))
            continue
        if akind == "filters":
            # named predicate buckets: each bucket counts the query-
            # matching docs that ALSO satisfy its filter-context clause
            # (match / term / terms / range / exists — the same clause
            # grammar as bool filter context). Metadata predicates push
            # down to the doc-store parquet scan; match clauses prune
            # through the postings like every other term lookup.
            from .search import _meta_filter_pred
            parts = []
            for bname, fq in aspec["filters"].items():
                if isinstance(fq, dict) and "bool" in fq:
                    # bool bucket predicate: membership from the
                    # complete tree relation
                    rel = index._bool_tree(
                        _bool_to_tree(index, fq["bool"]))
                    s = (store.filter(F.lit(False)) if rel is None
                         else store.join(rel.select("doc_id"),
                                         "doc_id", "left_semi"))
                    parts.append(s.agg(
                        F.count(F.lit(1)).alias("doc_count")).select(
                        F.lit(name).alias("agg"),
                        F.lit(bname).alias("key"),
                        "doc_count", F.lit(None).alias("value")))
                    continue
                fc, mc = index._parse_filters([fq])
                s = store
                if mc:
                    s = s.filter(_meta_filter_pred(
                        mc, index._store_schema()))
                for toks in fc:
                    s = s.join(
                        index._term_docs(toks).select("doc_id").distinct(),
                        "doc_id", "left_semi")
                parts.append(s.agg(
                    F.count(F.lit(1)).alias("doc_count")).select(
                    F.lit(name).alias("agg"), F.lit(bname).alias("key"),
                    "doc_count", F.lit(None).alias("value")))
            b = parts[0]
            for p in parts[1:]:
                b = b.unionByName(p)
            outs.append(b.select(*out_cols))
            continue
        field = aspec.get("field")
        if akind == "terms":
            # metric sub-aggregations ride the SAME hash aggregation as
            # the bucket counts (one shuffle for counts + every
            # sub-metric), then one stack() fans each surviving bucket
            # row out into its bucket line plus one line per sub-agg
            # (agg = "parent.child" — ES's nested response flattened
            # into the relation contract)
            size = int(aspec.get("size", 10))
            aggexprs = [F.count(F.lit(1)).alias("doc_count")]
            snames = []
            # top_hits sub-aggs need a per-bucket window, not the hash
            # aggregation — split them out and serve them after the
            # bucket cut (they never influence which buckets survive)
            th_subs = {sn: ss["top_hits"] for sn, ss in sub.items()
                       if isinstance(ss, dict) and "top_hits" in ss}
            sub = {sn: ss for sn, ss in sub.items() if sn not in th_subs}
            for sname, sspec in sub.items():
                skind, sspec2 = next(iter(sspec.items()))
                sc = F.col(sspec2["field"]).cast("double")
                smap = {"value_count": F.count(sc).cast("double"),
                        "avg": F.avg(sc), "min": F.min(sc),
                        "max": F.max(sc), "sum": F.sum(sc),
                        "cardinality": F.countDistinct(
                            F.col(sspec2["field"])).cast("double")}
                if skind not in smap:
                    raise ValueError(
                        f"unsupported sub-aggregation: {skind} "
                        "(metric kinds under terms)")
                aggexprs.append(smap[skind].alias(f"_s_{len(snames)}"))
                snames.append(sname)
            # ES terms `order`: which buckets survive the size cut —
            # _count (default), _key, or a sub-metric by name. Dropping
            # it silently would return the wrong bucket set.
            order = aspec.get("order")
            okey, odir = ("_count", "desc")
            if order is not None:
                okey, odir = next(iter(order.items()))
                odir = str(odir).lower()
                if odir not in ("asc", "desc"):
                    raise ValueError(f"unsupported order direction: {odir}")
            if okey == "_count":
                ocol = F.col("doc_count")
            elif okey == "_key":
                ocol = F.col("key")
            elif okey in snames:
                ocol = F.col(f"_s_{snames.index(okey)}")
            else:
                raise ValueError(
                    f"unsupported terms order: {okey} (_count, _key, "
                    "or a sub-aggregation name)")
            g = (store.groupBy(F.col(field).cast("string").alias("key"))
                 .agg(*aggexprs)
                 .orderBy(ocol.desc() if odir == "desc" else ocol.asc(),
                          F.asc("key")).limit(size))
            if snames:
                rows = [f"'{name}', key, doc_count, CAST(NULL AS DOUBLE)"]
                for i, sn in enumerate(snames):
                    rows.append(f"'{name}.{sn}', key, "
                                f"CAST(NULL AS BIGINT), _s_{i}")
                b = (g.selectExpr(f"stack({len(rows)}, {', '.join(rows)})"
                                  " as (agg, k, dc, v)")
                     .select("agg", F.col("k").alias("key"),
                             F.col("dc").alias("doc_count"),
                             F.col("v").alias("value")))
            else:
                b = g.select(F.lit(name).alias("agg"), "key", "doc_count",
                             F.lit(None).alias("value"))
            for tname, tspec in th_subs.items():
                # top_hits under terms: the per-bucket top docs by a
                # doc-store sort field (one window over the surviving
                # buckets' rows — the bucket cut broadcast-semi-joins
                # the match set first, so the window input is small).
                # Flat-contract encoding: agg = "parent.child",
                # key = bucket, doc_count = the HIT's doc_id (exact
                # bigint), value = its sort value. ES's default
                # _score sort has no meaning in this aggregation
                # context (the match set is unscored membership) and
                # raises; a doc-store sort field is required.
                tsize = int(tspec.get("size", 3))
                tsort = tspec.get("sort")
                if not tsort:
                    raise ValueError(
                        "top_hits needs an explicit sort on a doc-store "
                        "field (_score is not defined in agg context "
                        "here)")
                sitem = tsort[0] if isinstance(tsort, list) else tsort
                scol, sdef = next(iter(sitem.items()))
                if scol == "_score":
                    raise ValueError(
                        "top_hits _score sort is not supported in agg "
                        "context (membership is unscored)")
                sdir = (str(sdef.get("order", "asc")).lower()
                        if isinstance(sdef, dict) else str(sdef).lower())
                sv = F.col(scol).cast("double")
                ordcol = (F.col("_sv").desc() if sdir == "desc"
                          else F.col("_sv").asc())
                hits = (store.select(
                            F.col(field).cast("string").alias("key"),
                            "doc_id", sv.alias("_sv"))
                        .join(F.broadcast(g.select("key")), "key"))
                thw = Window.partitionBy("key").orderBy(
                    ordcol, F.asc("doc_id"))
                th = (hits.withColumn("_rn", F.row_number().over(thw))
                      .filter(F.col("_rn") <= tsize)
                      .select(F.lit(f"{name}.{tname}").alias("agg"),
                              "key",
                              F.col("doc_id").alias("doc_count"),
                              F.col("_sv").alias("value")))
                outs.append(th.select(*out_cols))
        elif akind == "composite":
            # ES composite aggregation: the SCALABLE bucket pagination —
            # multi-source bucket tuples ordered by key, an `after` key
            # resuming strictly past the previous page, `size` buckets
            # per page. This is the agg ES built for walking an
            # unbounded bucket space without deep bucket queues; in
            # Spark it is one hash aggregation + a sorted cut, and the
            # after-key predicate prunes before the sort. Sources:
            # terms / histogram / date_histogram; null keys are skipped
            # (the ES default missing_bucket=false).
            csize = int(aspec.get("size", 10))
            after = aspec.get("after") or {}
            typed, rendered, srcnames = [], [], []
            for i, s in enumerate(aspec["sources"]):
                sname, sdef = next(iter(s.items()))
                skind, sspec = next(iter(sdef.items()))
                if skind == "terms":
                    tc = F.col(sspec["field"]).cast("string")
                    rc = F.col(f"_k{i}")
                elif skind == "histogram":
                    civ = float(sspec["interval"])
                    if civ <= 0:
                        raise ValueError("histogram interval must be > 0")
                    tc = (F.floor(F.col(sspec["field"]).cast("double")
                                  / F.lit(civ)) * F.lit(civ))
                    rc = (F.col(f"_k{i}").cast("long").cast("string")
                          if civ.is_integer()
                          else F.col(f"_k{i}").cast("string"))
                elif skind == "date_histogram":
                    civ = sspec.get("calendar_interval", "day")
                    if civ not in ("day", "month", "year"):
                        raise ValueError(
                            f"unsupported calendar_interval: {civ}")
                    tc = F.date_format(
                        F.date_trunc(civ, F.col(sspec["field"])),
                        "yyyy-MM-dd")
                    rc = F.col(f"_k{i}")
                else:
                    raise ValueError(
                        f"unsupported composite source: {skind} "
                        "(terms / histogram / date_histogram)")
                typed.append(tc.alias(f"_k{i}"))
                rendered.append(rc)
                srcnames.append(sname)
            g = store.groupBy(*typed).agg(
                F.count(F.lit(1)).alias("doc_count"))
            for i in range(len(typed)):
                g = g.filter(F.col(f"_k{i}").isNotNull())
            if after:
                # strictly-greater lexicographic tuple predicate (ES
                # excludes the after bucket itself); typed comparisons,
                # so histogram keys page numerically
                pred = F.lit(False)
                eqs = F.lit(True)
                for i, sn in enumerate(srcnames):
                    if sn not in after:
                        raise ValueError(f"after key missing source {sn}")
                    c = F.col(f"_k{i}")
                    pred = pred | (eqs & (c > F.lit(after[sn])))
                    eqs = eqs & (c == F.lit(after[sn]))
                g = g.filter(pred)
            g = g.orderBy(*[F.asc(f"_k{i}")
                            for i in range(len(typed))]).limit(csize)
            b = g.select(F.lit(name).alias("agg"),
                         F.concat_ws("|", *rendered).alias("key"),
                         "doc_count", F.lit(None).alias("value"))
        elif akind == "date_histogram":
            iv = aspec.get("calendar_interval", "day")
            if iv not in ("day", "month", "year"):
                raise ValueError(f"unsupported calendar_interval: {iv}")
            b = (store.groupBy(
                    F.date_format(F.date_trunc(iv, F.col(field)),
                                  "yyyy-MM-dd").alias("key"))
                 .agg(F.count(F.lit(1)).alias("doc_count"))
                 .select(F.lit(name).alias("agg"), "key", "doc_count",
                         F.lit(None).alias("value")))
        elif akind == "stats":
            c = F.col(field).cast("double")
            b = (store.agg(F.count(c).cast("double").alias("count"),
                           F.min(c).alias("min"), F.max(c).alias("max"),
                           F.avg(c).alias("avg"), F.sum(c).alias("sum"))
                 .selectExpr(
                     "stack(5, 'count', count, 'min', min, 'max', max, "
                     "'avg', avg, 'sum', sum) as (key, value)")
                 .select(F.lit(name).alias("agg"), "key",
                         F.lit(None).alias("doc_count"), "value"))
        elif akind == "histogram":
            # fixed-interval numeric buckets: key = the bucket's lower
            # bound floor((v - offset)/interval)*interval + offset (the
            # ES histogram contract); integral interval+offset render as
            # integer keys so the relation stays join-friendly
            iv = float(aspec["interval"])
            off = float(aspec.get("offset", 0.0))
            if iv <= 0:
                raise ValueError("histogram interval must be > 0")
            c = F.col(field).cast("double")
            key = (F.floor((c - F.lit(off)) / F.lit(iv)) * F.lit(iv)
                   + F.lit(off))
            key = (key.cast("long").cast("string")
                   if iv.is_integer() and off.is_integer()
                   else key.cast("string"))
            b = (store.groupBy(key.alias("key"))
                 .agg(F.count(F.lit(1)).alias("doc_count"))
                 .select(F.lit(name).alias("agg"), "key", "doc_count",
                         F.lit(None).alias("value")))
        elif akind == "range":
            # explicit [from, to) buckets; a missing bound is open and
            # keyed '*' (the ES range-agg shape). Empty buckets report
            # doc_count 0, as ES does.
            parts = []
            c = F.col(field).cast("double")
            for r in aspec["ranges"]:
                frm, to = r.get("from"), r.get("to")
                pred = F.lit(True)
                if frm is not None:
                    pred = pred & (c >= F.lit(float(frm)))
                if to is not None:
                    pred = pred & (c < F.lit(float(to)))
                label = (f"{frm if frm is not None else '*'}-"
                         f"{to if to is not None else '*'}")
                parts.append(store.filter(pred).agg(
                    F.count(F.lit(1)).alias("doc_count")).select(
                    F.lit(name).alias("agg"), F.lit(label).alias("key"),
                    "doc_count", F.lit(None).alias("value")))
            b = parts[0]
            for p in parts[1:]:
                b = b.unionByName(p)
        elif akind == "percentiles":
            # exact interpolated percentiles (ES approximates via
            # t-digest; exactness keeps the DuckDB oracle meaningful —
            # swap to approx_percentile at true scale). key = the
            # percent, value = the percentile.
            pcts = [float(p) for p in
                    aspec.get("percents", [1, 5, 25, 50, 75, 95, 99])]
            c = F.col(field).cast("double")
            exprs = [F.percentile(c, p / 100.0).alias(f"_p{i}")
                     for i, p in enumerate(pcts)]
            stacked = ", ".join(f"'{p}', _p{i}"
                                for i, p in enumerate(pcts))
            b = (store.agg(*exprs)
                 .selectExpr(f"stack({len(pcts)}, {stacked}) "
                             "as (key, value)")
                 .select(F.lit(name).alias("agg"), "key",
                         F.lit(None).alias("doc_count"), "value"))
        elif akind == "missing":
            # ES missing agg: docs in the match set with NO value in the
            # field (a pushed-down isNull count)
            b = (store.filter(F.col(field).isNull())
                 .agg(F.count(F.lit(1)).alias("doc_count"))
                 .select(F.lit(name).alias("agg"),
                         F.lit("missing").alias("key"),
                         "doc_count", F.lit(None).alias("value")))
        elif akind in ("value_count", "avg", "min", "max", "sum",
                       "cardinality"):
            c = F.col(field).cast("double") if akind != "cardinality" \
                else F.col(field)
            metric = {"value_count": F.count(c).cast("double"),
                      "avg": F.avg(c), "min": F.min(c), "max": F.max(c),
                      "sum": F.sum(c),
                      # exact distinct count (ES approximates via
                      # HyperLogLog++; Spark's approx_count_distinct is
                      # the same sketch, but exactness keeps the DuckDB
                      # oracle meaningful — swap at true scale)
                      "cardinality": F.countDistinct(c).cast("double"),
                      }[akind]
            b = (store.agg(metric.alias("value"))
                 .select(F.lit(name).alias("agg"),
                         F.lit(akind).alias("key"),
                         F.lit(None).alias("doc_count"), "value"))
        else:
            raise ValueError(f"unsupported agg kind: {akind}")
        if akind in ("date_histogram", "histogram") and sub:
            # nested parent pipeline aggs over the histogram's bucket
            # counts: cumulative_sum (running sum in key order) and
            # derivative (delta vs the previous bucket; the first bucket
            # emits no row, like ES). The window input is the BUCKET
            # relation (cardinality = bucket count, never doc count), so
            # the single-partition window is bounded by construction.
            okey = (F.col("key") if akind == "date_histogram"
                    else F.col("key").cast("double"))
            base_b = b  # the bucket rows only, whatever subs are added
            for sname, sspec in sub.items():
                skind, sspec2 = next(iter(sspec.items()))
                if (skind not in ("cumulative_sum", "derivative")
                        or str(sspec2.get("buckets_path")) != "_count"):
                    raise ValueError(
                        "histogram sub-aggregations support "
                        "cumulative_sum / derivative over _count")
                if skind == "cumulative_sum":
                    csw = (Window.orderBy(okey.asc())
                           .rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow))
                    val = F.sum(F.col("doc_count")).over(csw)
                else:
                    dw = Window.orderBy(okey.asc())
                    val = (F.col("doc_count")
                           - F.lag(F.col("doc_count")).over(dw))
                cs = base_b.select(
                    F.lit(f"{name}.{sname}").alias("agg"), "key",
                    F.lit(None).cast("bigint").alias("doc_count"),
                    val.cast("double").alias("value"))
                if skind == "derivative":
                    cs = cs.filter(F.col("value").isNotNull())
                b = b.unionByName(cs)
        if akind in ("terms", "date_histogram", "histogram",
                     "composite"):
            bucket_dfs[name] = b
        outs.append(b.select(*out_cols))
    for name, akind, aspec in deferred:
        # sibling pipeline aggs: one scalar over another agg's buckets,
        # addressed by buckets_path "ref>_count" (bucket doc counts) or
        # "ref>metric" (a sub-metric's rows). Computed from the already-
        # built bucket relation — no second pass over the match set.
        path = str(aspec["buckets_path"])
        ref, _, metric = path.partition(">")
        src = bucket_dfs.get(ref)
        if src is None:
            raise ValueError(
                f"buckets_path {path!r} references no bucket "
                "aggregation in this body")
        if metric in ("", "_count"):
            vals = (src.filter(F.col("agg") == ref)
                    .select(F.col("doc_count").cast("double").alias("v")))
        else:
            vals = (src.filter(F.col("agg") == f"{ref}.{metric}")
                    .select(F.col("value").cast("double").alias("v")))
        if akind == "percentiles_bucket":
            # exact interpolated percentiles over the bucket values
            # (ES computes these exactly too — the bucket list is small)
            pcts = [float(p) for p in
                    aspec.get("percents", [1, 5, 25, 50, 75, 95, 99])]
            exprs = [F.percentile(F.col("v"), p / 100.0).alias(f"_p{i}")
                     for i, p in enumerate(pcts)]
            stacked = ", ".join(f"'{p}', _p{i}"
                                for i, p in enumerate(pcts))
            b = (vals.agg(*exprs)
                 .selectExpr(f"stack({len(pcts)}, {stacked}) "
                             "as (key, value)")
                 .select(F.lit(name).alias("agg"), "key",
                         F.lit(None).alias("doc_count"), "value"))
        else:
            fn = {"avg_bucket": F.avg, "sum_bucket": F.sum,
                  "min_bucket": F.min, "max_bucket": F.max}[akind]
            b = (vals.agg(fn(F.col("v")).alias("value"))
                 .select(F.lit(name).alias("agg"),
                         F.lit(akind).alias("key"),
                         F.lit(None).alias("doc_count"), "value"))
        outs.append(b.select(*out_cols))
    if not outs:
        raise ValueError("body has no aggs")
    res = outs[0]
    for b in outs[1:]:
        res = res.unionByName(b)
    return res
