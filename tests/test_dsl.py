"""ES bool-DSL compiler tests.

Three layers:
1. parse: the reference's EXACT query dicts (src/jobsautoreport/
   query.py:28-99, src/elasticsearch_cleanup/consts.py:4) compile.
2. semantics: search_dsl (one-pass naive executor) vs an independent
   brute-force oracle (pandas BM25 per clause + duckdb for metadata
   predicates) on the synthetic transcript corpus.
3. engine identity: search_dsl_indexed (compressed index) rank-identical
   to search_dsl for every tested query shape.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from prow_jobs_scraper_spark.functions.tokenize import tokenize_pandas, tokenize_text
from prow_jobs_scraper_spark.index.build import (
    BuildConfig,
    build_index,
    with_doc_ids,
)
from prow_jobs_scraper_spark.search.dsl import (
    DslError,
    parse_query,
    search_dsl,
    search_dsl_indexed,
)
from prow_jobs_scraper_spark.search.naive import naive_bm25_topk

K1, B = 1.2, 0.75


# --------------------------------------------------------------------------
# fixtures
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark, transcripts):
    return with_doc_ids(transcripts).cache()


@pytest.fixture(scope="module")
def docs_pdf(docs) -> pd.DataFrame:
    return docs.toPandas()


@pytest.fixture(scope="module")
def dsl_index(spark, docs, tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("dsl_idx"))
    build_index(spark, docs, d, BuildConfig(n_ranges=8, n_buckets=4))
    return d


# --------------------------------------------------------------------------
# brute-force oracle (independent of the engine's Spark plans)
# --------------------------------------------------------------------------

def _field_stats(pdf, fields):
    """Per-field token lists + avgdl (ES scores each field with its own
    stats; the single-field corpus is the degenerate case)."""
    out = {}
    for f in sorted(set(fields) or {"text"}):
        toks = tokenize_pandas(pdf[f].fillna("")).tolist()
        out[f] = (toks, float(np.mean([len(x) for x in toks])))
    return out


def _clause_eval(pdf, fstats, n, clause):
    """-> (score: np.ndarray, matched: np.ndarray[bool]) for a text clause."""
    toks, avgdl = fstats[clause.field]
    terms = sorted(set(tokenize_text(clause.text)))
    tf = {t: np.array([lst.count(t) for lst in toks], dtype=np.float64)
          for t in terms}
    dfs = {t: int((tf[t] > 0).sum()) for t in terms}
    conj = clause.operator == "and" or clause.phrase
    if conj:
        if any(dfs[t] == 0 for t in terms):
            return None, None
        live = terms
    else:
        live = [t for t in terms if dfs[t] > 0]
        if not live:
            return None, None
    dl = np.array([len(lst) for lst in toks], dtype=np.float64)
    denom = K1 * (1 - B + B * dl / avgdl)
    score = np.zeros(len(pdf))
    hits = np.zeros(len(pdf), dtype=np.int64)
    for t in live:
        idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
        score += idf * tf[t] * (K1 + 1.0) / (tf[t] + denom)
        hits += (tf[t] > 0).astype(np.int64)
    if clause.phrase and getattr(clause, "slop", 0) > 0:
        seq = tokenize_text(clause.text)
        matched = np.array(
            [_sloppy_match_py(lst, seq, clause.slop) for lst in toks])
    elif clause.phrase:
        needle = " " + " ".join(tokenize_text(clause.text)) + " "
        hay = (" " + pd.Series([" ".join(x) for x in toks]) + " ")
        matched = hay.str.contains(needle, regex=False).to_numpy()
    elif clause.operator == "and":
        matched = hits == len(live)
    else:
        matched = hits > 0
    return score * clause.boost, matched


def _sloppy_match_py(tokens: list[str], seq: list[str], slop: int) -> bool:
    """Brute-force Lucene sloppy-phrase rule, independent of the
    engine: an assignment of doc positions to phrase slots exists
    (distinct positions for repeated terms) with displacement range
    max(p_i - i) - min(p_i - i) <= slop."""
    from itertools import product
    pos = {t: [i for i, x in enumerate(tokens) if x == t]
           for t in set(seq)}
    if any(not pos[t] for t in seq):
        return False
    for choice in product(*[pos[t] for t in seq]):
        # repeated terms must occupy distinct positions
        if any(seq[j] == seq[kk] and choice[j] == choice[kk]
               for j in range(len(seq)) for kk in range(j + 1, len(seq))):
            continue
        disp = [p - j for j, p in enumerate(choice)]
        if max(disp) - min(disp) <= slop:
            return True
    return False


def _pred_mask(pdf: pd.DataFrame, pred: str) -> np.ndarray:
    """Docs whose row satisfies the SQL predicate (NULL -> False)."""
    con = duckdb.connect()
    con.register("t", pdf)
    ids = set(con.sql(f"SELECT doc_id FROM t WHERE {pred}")
              .df()["doc_id"].tolist())
    return pdf["doc_id"].isin(ids).to_numpy()


def _dismax_eval(pdf, fstats, n, dm):
    """ES dis_max: best matched child + tie_breaker * (sum of others);
    matched = any child matched."""
    parts = []
    for c in dm.children:
        s, m = _clause_eval(pdf, fstats, n, c)
        if s is not None:
            parts.append((s, m))
    if not parts:
        return None, None
    matched = np.any(np.stack([m for _, m in parts]), axis=0)
    best = np.stack([np.where(m, s, -np.inf) for s, m in parts]).max(axis=0)
    best = np.where(matched, best, 0.0)
    total = np.stack([np.where(m, s, 0.0) for s, m in parts]).sum(axis=0)
    return best + dm.tie_breaker * (total - best), matched


def _value_vec(pdf: pd.DataFrame, sql: str) -> np.ndarray:
    """Per-doc value of a shared-subset SQL expression, evaluated by
    DuckDB (an independent evaluator of the same expression string the
    engine compiles), doc_id-aligned to the frame's row order. The one
    Spark-only function a factor may carry (distance_feature's
    unix_timestamp — no shared epoch function exists) is shimmed as a
    DuckDB macro; fixture timestamps are whole seconds, so truncation
    cannot diverge."""
    con = duckdb.connect()
    con.execute("CREATE MACRO unix_timestamp(t) AS "
                "CAST(epoch(CAST(t AS TIMESTAMP)) AS DOUBLE)")
    con.register("t", pdf)
    got = con.sql(f"SELECT doc_id, ({sql}) AS v FROM t").df()
    by_id = dict(zip(got["doc_id"], got["v"]))
    return np.array([float(by_id[d]) for d in pdf["doc_id"]])


def _script_vec(pdf: pd.DataFrame, script_src, qscore) -> np.ndarray:
    """Independent ``script_score`` evaluator: rewrite the painless
    source into a Python expression and let Python's OWN parser +
    numpy evaluate it (precedence, parens, unary minus all come from
    a second implementation, not the engine's recursive descent).
    Negative results raise, mirroring the engine's run-time rule."""
    import functools
    import re

    src, params = script_src
    params = dict(params)
    expr = re.sub(r"doc\['([A-Za-z_]\w*)'\]\.value", r"__f_\1", src)
    expr = re.sub(r"params\.([A-Za-z_]\w*)",
                  lambda m: repr(float(params[m.group(1)])), expr)
    expr = re.sub(r"(?<!\w)_score\b", "__score", expr)
    expr = expr.replace("Math.", "__m_")
    env = {
        "__score": np.asarray(qscore, dtype=float),
        "__m_log": np.log, "__m_log10": np.log10, "__m_sqrt": np.sqrt,
        "__m_abs": np.abs, "__m_exp": np.exp, "__m_pow": np.power,
        "__m_max": lambda *a: functools.reduce(np.maximum, a),
        "__m_min": lambda *a: functools.reduce(np.minimum, a),
    }
    for col in re.findall(r"__f_([A-Za-z_]\w*)", expr):
        env[f"__f_{col}"] = pdf[col].to_numpy(dtype=float)
    out = np.asarray(eval(expr, {"__builtins__": {}}, env), dtype=float)
    if out.shape == ():
        out = np.full(len(pdf), float(out))
    assert not (out < 0).any(), "oracle: negative script score"
    return out


def _spec_eval(pdf, fstats, n, spec):
    """One (sub)bool -> (ok, score, qual, scored) numpy arrays —
    recursive, mirrors ES semantics independently of the Spark plans."""
    if spec.fscore is not None:
        # ES function_score: factor from matched functions
        # (score_mode combine, none matched -> 1), boost_mode against
        # the wrapped score (unscored wrapped -> 1.0)
        fs = spec.fscore
        ok, s, q, sc = _spec_eval(pdf, fstats, n, fs.wrapped)
        if not ok:
            return False, None, None, False
        qscore = s if sc else np.ones(n)
        mats, vals, wts = [], [], []
        for fn in fs.funcs:
            mats.append(_pred_mask(pdf, fn.filter_sql)
                        if fn.filter_sql is not None
                        else np.ones(n, dtype=bool))
            v = (_script_vec(pdf, fn.script_src, qscore)
                 if fn.script_src is not None
                 else _value_vec(pdf, fn.value_sql))
            vals.append(v * fn.weight)
            wts.append(fn.weight)
        M, V = np.stack(mats), np.stack(vals)
        anym = M.any(axis=0)
        if fs.score_mode == "multiply":
            factor = np.where(M, V, 1.0).prod(axis=0)
        elif fs.score_mode == "sum":
            factor = np.where(anym, np.where(M, V, 0.0).sum(axis=0), 1.0)
        elif fs.score_mode == "avg":
            raw = np.where(M, V, 0.0).sum(axis=0)
            wsum = np.where(M, np.array(wts)[:, None], 0.0).sum(axis=0)
            factor = np.where(wsum != 0, raw / np.where(wsum != 0, wsum, 1.0),
                              1.0)
        elif fs.score_mode == "first":
            factor = np.full(n, 1.0)
            for m, v in zip(reversed(mats), reversed(vals)):
                factor = np.where(m, v, factor)  # earliest overwrites last
        elif fs.score_mode == "max":
            factor = np.where(anym, np.where(M, V, -np.inf).max(axis=0), 1.0)
        else:  # min
            factor = np.where(anym, np.where(M, V, np.inf).min(axis=0), 1.0)
        if fs.max_boost is not None:
            factor = np.minimum(factor, fs.max_boost)
        final = {"multiply": qscore * factor, "replace": factor,
                 "sum": qscore + factor, "avg": (qscore + factor) / 2.0,
                 "max": np.maximum(qscore, factor),
                 "min": np.minimum(qscore, factor)}[fs.boost_mode]
        if fs.boost != 1.0:
            final = final * fs.boost
        if fs.min_score is not None:
            q = q & (final >= fs.min_score)
        return True, final, q, True
    if spec.boosting is not None:
        # ES boosting: qualify by positive only; demote (never
        # exclude) docs the negative also matches
        pos, neg, nb = spec.boosting
        ok, s, q, sc = _spec_eval(pdf, fstats, n, pos)
        if not ok:
            return False, None, None, False
        nok, _, nq, _ = _spec_eval(pdf, fstats, n, neg)
        if nok:
            s = np.where(nq, s * nb, s)
        return True, s, q, sc
    total = np.zeros(n)
    qual = np.ones(n, dtype=bool)
    scored = False
    for c in spec.must:
        s, m = _clause_eval(pdf, fstats, n, c)
        if s is None:
            return False, None, None, False
        total, qual, scored = total + s, qual & m, True
    for dm in spec.must_dismax:
        s, m = _dismax_eval(pdf, fstats, n, dm)
        if s is None:
            return False, None, None, False
        total, qual, scored = total + s, qual & m, True
    for ch in spec.must_bool:
        ok, s, q, sc = _spec_eval(pdf, fstats, n, ch)
        if not ok:
            return False, None, None, False
        total, qual, scored = total + s, qual & q, scored or sc
    for c in spec.filter_text:
        s, m = _clause_eval(pdf, fstats, n, c)
        if s is None:
            return False, None, None, False
        qual = qual & m
    for ch in spec.filter_bool:
        ok, _, q, _ = _spec_eval(pdf, fstats, n, ch)
        if not ok:
            return False, None, None, False
        qual = qual & q
    n_live_should, should_cnt = 0, np.zeros(n, dtype=np.int64)
    for c in spec.should:
        s, m = _clause_eval(pdf, fstats, n, c)
        if s is None:
            continue
        n_live_should += 1
        total = total + np.where(m, s, 0.0)
        should_cnt += m.astype(np.int64)
    for ch in spec.should_bool:
        ok, s, q, _ = _spec_eval(pdf, fstats, n, ch)
        if not ok:
            continue
        n_live_should += 1
        total = total + np.where(q, s, 0.0)
        should_cnt += q.astype(np.int64)
    for dm in spec.should_dismax:
        s, m = _dismax_eval(pdf, fstats, n, dm)
        if s is None:
            continue
        n_live_should += 1
        total = total + np.where(m, s, 0.0)
        should_cnt += m.astype(np.int64)
    if n_live_should:
        scored = True
    for p in spec.should_sql:
        # meta-in-should: counts toward msm at score 0, never `scored`
        n_live_should += 1
        should_cnt += _pred_mask(pdf, p).astype(np.int64)
    msm = spec.minimum_should_match()
    if msm > 0:
        if n_live_should < msm:
            return False, None, None, False
        qual = qual & (should_cnt >= msm)
    for c in spec.must_not:
        s, m = _clause_eval(pdf, fstats, n, c)
        if s is not None:
            qual = qual & ~m
    for ch in spec.must_not_bool:
        ok, _, q, _ = _spec_eval(pdf, fstats, n, ch)
        if ok:
            qual = qual & ~q
    for p in spec.filter_sql:
        qual = qual & _pred_mask(pdf, p)
    for p in spec.must_not_sql:
        # ES: must_not on a NULL field matches the doc -> the doc only
        # drops when the predicate POSITIVELY matched
        qual = qual & ~_pred_mask(pdf, p)
    if spec.const_boost is not None:
        # ES constant_score: every qualifying doc scores exactly boost
        return True, np.full(n, spec.const_boost), qual, True
    return True, total, qual, scored


def dsl_oracle(pdf: pd.DataFrame, query: dict, k: int) -> pd.DataFrame:
    spec = parse_query(query)
    n = len(pdf)
    fstats = _field_stats(pdf, {c.field for c in spec.text_clauses()})
    ok, total, qual, scored = _spec_eval(pdf, fstats, n, spec)
    if not ok:
        return pd.DataFrame({"doc_id": [], "score": []})

    out = pd.DataFrame({
        "doc_id": pdf["doc_id"].to_numpy()[qual],
        "score": total[qual],
    })
    if scored:
        out = out.sort_values(["score", "doc_id"],
                              ascending=[False, True], kind="mergesort")
    else:
        out = out.sort_values("doc_id", kind="mergesort")
    return out.head(k).reset_index(drop=True)


def _assert_rank_identical(got: pd.DataFrame, want: pd.DataFrame, label: str):
    assert got["doc_id"].tolist() == want["doc_id"].tolist(), f"{label}: order"
    np.testing.assert_allclose(
        got["score"].to_numpy(dtype=np.float64),
        want["score"].to_numpy(dtype=np.float64),
        rtol=1e-9, atol=1e-12, err_msg=f"{label}: scores")


# --------------------------------------------------------------------------
# 1. parsing the reference's exact query dicts
# --------------------------------------------------------------------------

def test_parse_reference_all_jobs_query():
    # reference src/jobsautoreport/query.py:28-45 (datetimes -> ISO strings)
    q = {"query": {"bool": {"filter": [
        {"range": {"ts": {"gte": "2025-06-02", "lte": "2025-06-30"}}}]}}}
    spec = parse_query(q)
    assert spec.filter_sql == ["(ts >= '2025-06-02' AND ts <= '2025-06-30')"]
    assert not spec.must and spec.minimum_should_match() == 0


def test_parse_reference_steps_by_name_query():
    # reference src/jobsautoreport/query.py:47-74: match + range in filter
    q = {"query": {"bool": {"filter": [
        {"match": {"text": {"query": "baremetalds packet setup",
                            "operator": "and"}}},
        {"range": {"ts": {"gte": "2025-06-02", "lte": "2025-06-30"}}},
    ]}}}
    spec = parse_query(q)
    assert len(spec.filter_text) == 1
    assert spec.filter_text[0].operator == "and"
    assert len(spec.filter_sql) == 1


def test_parse_match_all():
    # reference src/elasticsearch_cleanup/consts.py:4
    spec = parse_query({"query": {"match_all": {}}})
    assert spec.match_all


def test_parse_rejects_unknown():
    # fuzzy is SUPPORTED since round 5; genuinely unknown leaves raise
    with pytest.raises(DslError):
        parse_query({"span_near": {"clauses": []}})
    with pytest.raises(DslError):
        parse_query({"bool": {"must": [{"more_like_this": {}}]}})
    with pytest.raises(DslError):
        parse_query({"bool": {"must": [{"match": {"text": {
            "query": "x", "operator": "xor"}}}]}})


def test_parse_accepts_nested_bool():
    spec = parse_query({"bool": {
        "must": [{"bool": {"should": [{"match": {"text": "a"}},
                                      {"match": {"text": "b"}}],
                           "minimum_should_match": 2}}],
        "filter": [{"bool": {"must_not": [{"term": {"role": "tool"}}]}}],
    }})
    assert len(spec.must_bool) == 1 and spec.must_bool[0].msm == 2
    assert len(spec.must_bool[0].should) == 2
    assert len(spec.filter_bool) == 1
    assert spec.filter_bool[0].must_not_sql == ["role = 'tool'"]
    # text_clauses walks the whole tree
    assert len(spec.text_clauses()) == 2


def test_parse_validates_minimum_should_match():
    for bad in ("75", "x%", "3<90%", True, 1.5):
        with pytest.raises(DslError):
            parse_query({"bool": {"should": [{"match": {"text": "x"}}],
                                  "minimum_should_match": bad}})
    # ints, negative ints and percentage strings are ES grammar
    assert parse_query({"bool": {"should": [{"match": {"text": "x"}}],
                                 "minimum_should_match": 0}}).msm == 0
    three = [{"match": {"text": t}} for t in ("a", "b", "c")]

    def resolved(msm):
        return parse_query({"bool": {
            "should": three, "minimum_should_match": msm,
        }}).minimum_should_match()

    assert resolved("75%") == 2    # floor(3 * 0.75)
    assert resolved("100%") == 3
    assert resolved("-25%") == 3   # all but floor(3 * 0.25) = 3 - 0
    assert resolved("-34%") == 2   # all but floor(3 * 0.34) = 3 - 1
    assert resolved(-1) == 2       # all but 1
    assert resolved(-5) == 0       # clamped


# --------------------------------------------------------------------------
# 2. naive executor vs existing engine paths + brute-force oracle
# --------------------------------------------------------------------------

@pytest.mark.parametrize("operator", ["and", "or"])
def test_dsl_single_match_equals_naive(spark, docs, operator):
    q = {"query": {"match": {"text": {"query": "the_hot_term w01000",
                                      "operator": operator}}}}
    got = search_dsl(docs, q, 10).toPandas()
    want = naive_bm25_topk(docs, "the_hot_term w01000", 10,
                           operator=operator).toPandas()
    _assert_rank_identical(got, want, f"single-match:{operator}")


DSL_QUERIES = [
    ("ref-filter-shape", {"query": {"bool": {"filter": [
        {"match": {"text": {"query": "the_hot_term", "operator": "and"}}},
        {"range": {"ts": {"gte": "2025-06-05", "lte": "2025-06-20"}}},
    ]}}}),
    ("must-or", {"query": {"bool": {"must": [
        {"match": {"text": {"query": "spark agent", "operator": "or"}}}]}}}),
    ("must-and-two-term", {"query": {"bool": {"must": [
        {"match": {"text": {"query": "w00042 w00099",
                            "operator": "and"}}}]}}}),
    ("full-bool", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "the_hot_term",
                                     "operator": "or"}}}],
        "should": [{"match": {"text": "w00005"}}],
        "must_not": [{"match": {"text": {"query": "w00042",
                                         "operator": "or"}}}],
        "filter": [{"term": {"role": "assistant"}}],
    }}}),
    ("should-only-msm-default", {"query": {"bool": {"should": [
        {"match": {"text": "w00042"}},
        {"match": {"text": "w00099"}},
    ]}}}),
    ("msm-2", {"query": {"bool": {"should": [
        {"match": {"text": "spark"}},
        {"match": {"text": "agent"}},
        {"match": {"text": "w00005"}},
    ], "minimum_should_match": 2}}}),
    ("terms-filter", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "and"}}}],
        "filter": [{"terms": {"role": ["user", "assistant"]}}],
    }}}),
    ("must-not-meta", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "and"}}}],
        "must_not": [{"range": {"turn_idx": {"gte": 50}}}],
    }}}),
    ("phrase-in-must", {"query": {"bool": {
        "must": [{"match_phrase": {"text": "the_hot_term"}}],
        "filter": [{"exists": {"field": "tool"}}],
    }}}),
    ("unsatisfiable-should-dropped", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "and"}}}],
        "should": [{"match": {"text": "zzz_never_appears"}}],
    }}}),
    # ---- nested bools (round 4): the composed shapes a programmatic ES
    # client emits; the flat reference queries are the degenerate case
    ("nested-bool-in-must", {"query": {"bool": {
        "must": [{"bool": {"should": [
            {"match": {"text": "w00042"}},
            {"match": {"text": "w00099"}},
        ]}}],
        "filter": [{"term": {"role": "assistant"}}],
    }}}),
    ("nested-bool-in-filter", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "or"}}}],
        "filter": [{"bool": {
            "should": [{"match": {"text": "agent"}},
                       {"match": {"text": "tool_call"}}],
            "minimum_should_match": 1,
        }}],
    }}}),
    ("nested-bool-in-should-msm", {"query": {"bool": {
        "should": [
            {"match": {"text": "the_hot_term"}},
            {"bool": {"must": [{"match": {"text": {"query": "w00042",
                                                   "operator": "and"}}}],
                      "must_not": [{"term": {"role": "tool"}}]}},
        ],
        "minimum_should_match": 1,
    }}}),
    ("nested-bool-in-must-not", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "or"}}}],
        "must_not": [{"bool": {
            "must": [{"match": {"text": {"query": "agent",
                                         "operator": "and"}}}],
            "filter": [{"term": {"role": "user"}}],
        }}],
    }}}),
    ("nested-two-deep", {"query": {"bool": {
        "must": [{"bool": {"must": [{"bool": {"should": [
            {"match": {"text": "w00042"}},
            {"match": {"text": "w00099"}},
        ], "minimum_should_match": 2}}]}}],
    }}}),
    # must_not on a NULL field matches the doc (ES); `tool` has NULLs
    ("must-not-on-null-field", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "or"}}}],
        "must_not": [{"term": {"tool": "bash"}}],
    }}}),
    # explicit msm=0 on a should-only bool: EVERY doc qualifies (ES);
    # the indexed anchor must not shrink to the should union (ADVICE r3)
    ("should-only-msm-zero", {"query": {"bool": {
        "should": [{"match": {"text": "w00042"}}],
        "minimum_should_match": 0,
    }}}),
    # ES minimum_should_match grammar: percentage + negative forms
    ("msm-percent", {"query": {"bool": {"should": [
        {"match": {"text": "spark"}},
        {"match": {"text": "agent"}},
        {"match": {"text": "w00005"}},
    ], "minimum_should_match": "67%"}}}),  # floor(3*0.67) = 2
    ("msm-negative", {"query": {"bool": {"should": [
        {"match": {"text": "spark"}},
        {"match": {"text": "agent"}},
        {"match": {"text": "w00005"}},
    ], "minimum_should_match": -1}}}),  # all but 1 = 2
    # ---- dis_max / multi_match / meta-in-should (round 4, late)
    ("dismax-top-level", {"query": {"dis_max": {"queries": [
        {"match": {"text": {"query": "spark agent", "operator": "or"}}},
        {"match": {"text": "the_hot_term"}},
    ]}}}),
    ("dismax-tie-breaker-in-must", {"query": {"bool": {
        "must": [{"dis_max": {"queries": [
            {"match": {"text": {"query": "w00042 w00099",
                                "operator": "or"}}},
            {"match": {"text": "spark"}},
        ], "tie_breaker": 0.35}}],
        "filter": [{"terms": {"role": ["user", "assistant"]}}],
    }}}),
    ("dismax-in-should-msm", {"query": {"bool": {
        "should": [
            {"dis_max": {"queries": [
                {"match": {"text": "w00042"}},
                {"match": {"text": "w00099"}}], "tie_breaker": 0.5}},
            {"match": {"text": "the_hot_term"}},
        ],
        "minimum_should_match": 1,
    }}}),
    ("dismax-in-filter", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "or"}}}],
        "filter": [{"dis_max": {"queries": [
            {"match": {"text": "agent"}},
            {"match": {"text": "tool_call"}}]}}],
    }}}),
    ("dismax-dead-child-dropped", {"query": {"dis_max": {"queries": [
        {"match": {"text": {"query": "spark", "operator": "or"}}},
        {"match": {"text": {"query": "zzz_never_appears",
                            "operator": "and"}}},
    ], "tie_breaker": 0.1}}}),
    ("meta-in-should-msm2", {"query": {"bool": {
        "should": [
            {"match": {"text": "spark"}},
            {"range": {"turn_idx": {"lte": 3}}},
        ],
        "minimum_should_match": 2,
    }}}),
    ("meta-in-should-default-msm", {"query": {"bool": {"should": [
        {"term": {"role": "tool"}},
        {"match": {"text": "w00042"}},
    ]}}}),
    # `tool` has NULLs: a should-term on a NULL field does NOT match
    ("meta-in-should-null-field", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "or"}}}],
        "should": [{"term": {"tool": "bash"}}],
        "minimum_should_match": 1,
    }}}),
    ("multi-match-best-single-field", {"query": {"multi_match": {
        "query": "spark agent", "fields": ["text"]}}}),
    # per-clause boost: the boosted rare term outweighs the hot one —
    # rank order must differ from the unboosted twin (checked below)
    ("boosted-should", {"query": {"bool": {"should": [
        {"match": {"text": {"query": "the_hot_term", "boost": 0.25}}},
        {"match": {"text": {"query": "w00042", "boost": 4}}},
    ]}}}),
    ("boost-in-must-with-filter", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark agent",
                                     "operator": "or", "boost": 2.5}}}],
        "filter": [{"term": {"role": "assistant"}}],
    }}}),
    ("multi-match-most-single-field", {"query": {"multi_match": {
        "query": "spark agent", "fields": ["text"],
        "type": "most_fields"}}}),
    # ---- sloppy phrase (round 5): slop relaxes qualification to the
    # Lucene displacement-range rule; scoring stays slop-independent
    ("sloppy-phrase-1", {"query": {"match_phrase": {
        "text": {"query": "the_hot_term spark", "slop": 1}}}}),
    ("sloppy-phrase-transposed", {"query": {"match_phrase": {
        "text": {"query": "spark the_hot_term", "slop": 2}}}}),
    ("sloppy-phrase-in-bool", {"query": {"bool": {
        "must": [{"match_phrase": {"text": {"query": "spark agent",
                                            "slop": 3}}}],
        "filter": [{"term": {"role": "assistant"}}],
    }}}),
    ("sloppy-phrase-repeated-term", {"query": {"match_phrase": {
        "text": {"query": "the the", "slop": 4}}}}),
    # ---- query_string / simple_query_string (round 5): desugared onto
    # the bool grammar, so the same oracle + indexed identity applies
    ("query-string-mixed", {"query": {"query_string": {
        "query": "the_hot_term AND (agent OR tool_call) -w00042"}}}),
    ("query-string-phrase-slop", {"query": {"query_string": {
        "query": '"the_hot_term spark"~1 OR w00005'}}}),
    ("query-string-default-and", {"query": {"query_string": {
        "query": "spark agent", "default_operator": "AND"}}}),
    ("query-string-in-bool-filter", {"query": {"bool": {
        "must": [{"match": {"text": "the_hot_term"}}],
        "filter": [{"query_string": {"query": "agent OR tool_call"}}],
    }}}),
    ("simple-query-string", {"query": {"simple_query_string": {
        "query": 'spark + agent | "the_hot_term spark"',
        "fields": ["text"]}}}),
    # ---- regexp leaf (round 5): Lucene-anchored, shared Java/RE2
    # pattern subset; the SAME predicate string runs in Spark SQL and
    # the DuckDB oracle (regexp_extract(col, pat, 0) = col)
    ("regexp-top-level", {"query": {"regexp": {"role": "(user|to[a-z]+)"}}}),
    ("regexp-filter-null-field", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "operator": "or"}}}],
        "filter": [{"regexp": {"tool": "ba.*"}}],  # tool has NULLs
    }}}),
    ("regexp-in-must-not", {"query": {"bool": {
        "must": [{"match": {"text": "the_hot_term"}}],
        "must_not": [{"regexp": {"role": "assis[a-z]{4}"}}],
    }}}),
    # ---- case_insensitive (round 5, resumed closing): uppercase query
    # values against the corpus's all-lowercase metadata — each clause
    # matches ONLY because of the flag (the case-sensitive twin of the
    # same value matches nothing), so the oracle discriminates
    ("term-case-insensitive", {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"term": {"role": {"value": "USER",
                                      "case_insensitive": True}}}],
    }}}),
    ("prefix-case-insensitive-filter", {"query": {"bool": {
        "must": [{"match": {"text": "the_hot_term"}}],
        "filter": [{"prefix": {"role": {"value": "ASSIS",
                                        "case_insensitive": True}}}],
    }}}),
    ("wildcard-case-insensitive-must-not", {"query": {"bool": {
        "must": [{"match": {"text": "spark agent"}}],
        "must_not": [{"wildcard": {"tool": {
            "value": "BA*",  # tool has NULLs — null-guard rule too
            "case_insensitive": True}}}],
    }}}),
    ("regexp-case-insensitive", {"query": {"bool": {
        "must": [{"match": {"text": "agent"}}],
        "filter": [{"regexp": {"role": {
            "value": "(USER|To[a-z]+)",
            "case_insensitive": True}}}],
    }}}),
    ("term-case-sensitive-long-form-unmatched", {"query": {"bool": {
        "should": [
            {"match": {"text": "spark"}},
            # explicit false = the case-SENSITIVE long form: matches
            # nothing against the lowercase corpus
            {"constant_score": {"filter": {"term": {"role": {
                "value": "USER", "case_insensitive": False}}},
                "boost": 5.0}},
        ]}}}),
    # ---- constant_score (round 5): every qualifying doc scores boost
    ("constant-score-top-level", {"query": {"constant_score": {
        "filter": {"match": {"text": "spark"}}, "boost": 2.5}}}),
    ("constant-score-meta-filter", {"query": {"constant_score": {
        "filter": {"term": {"role": "tool"}}}}}),  # ES default boost 1
    ("constant-score-in-should", {"query": {"bool": {
        "should": [
            {"constant_score": {"filter": {"term": {"role": "tool"}},
                                "boost": 3.0}},
            {"match": {"text": "w00042"}},
        ],
        "minimum_should_match": 1,
    }}}),
    ("constant-score-in-must", {"query": {"bool": {
        "must": [
            {"match": {"text": {"query": "spark", "operator": "or"}}},
            {"constant_score": {"filter": {"regexp": {"role": "[a-z]+r"}},
                                "boost": 0.7}},
        ],
    }}}),
    # ---- boosting (round 5): demote-without-exclude; docs qualify by
    # positive only, negative matches multiply the score by nb
    ("boosting-top-level", {"query": {"boosting": {
        "positive": {"match": {"text": {"query": "spark agent",
                                        "operator": "or"}}},
        "negative": {"match": {"text": "the_hot_term"}},
        "negative_boost": 0.4}}}),
    ("boosting-meta-negative", {"query": {"boosting": {
        "positive": {"match": {"text": "spark"}},
        "negative": {"term": {"role": "tool"}},
        "negative_boost": 0.2}}}),
    ("boosting-nested-bool", {"query": {"boosting": {
        "positive": {"bool": {
            "must": [{"match": {"text": {"query": "spark agent",
                                         "operator": "or"}}}],
            "filter": [{"range": {"turn_idx": {"gte": 1}}}]}},
        "negative": {"bool": {
            "must": [{"match": {"text": "the_hot_term"}}],
            "filter": [{"term": {"role": "user"}}]}},
        "negative_boost": 0.0}}}),  # nb=0: demoted to score 0, KEPT
    ("boosting-in-should", {"query": {"bool": {
        "should": [
            {"boosting": {"positive": {"match": {"text": "spark"}},
                          "negative": {"term": {"role": "tool"}},
                          "negative_boost": 0.5}},
            {"match": {"text": "w00042"}},
        ],
        "minimum_should_match": 1,
    }}}),
    ("boosting-in-filter", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark agent",
                                     "operator": "or"}}}],
        "filter": [{"boosting": {
            "positive": {"match": {"text": "spark"}},
            "negative": {"term": {"role": "tool"}},
            "negative_boost": 0.1}}],  # filter ctx: qualification only
    }}}),
    # ---- function_score (round 5): per-doc metadata score functions;
    # every score_mode/boost_mode shape, filters, decay, min_score
    ("fscore-fvf-multiply", {"query": {"function_score": {
        "query": {"match": {"text": {"query": "spark agent",
                                     "operator": "or"}}},
        "field_value_factor": {"field": "turn_idx", "factor": 0.5,
                               "modifier": "log2p", "missing": 0}}}}),
    ("fscore-weight-filters-sum", {"query": {"function_score": {
        "query": {"match": {"text": "the_hot_term"}},
        "functions": [
            {"filter": {"term": {"role": "user"}}, "weight": 3.0},
            {"filter": {"range": {"turn_idx": {"gte": 10}}},
             "weight": 0.5},
        ],
        "score_mode": "sum", "boost_mode": "multiply"}}}),
    ("fscore-gauss-replace", {"query": {"function_score": {
        "query": {"match": {"text": {"query": "spark",
                                     "operator": "or"}}},
        "gauss": {"turn_idx": {"origin": 0, "scale": 25,
                               "offset": 2, "decay": 0.5}},
        "boost_mode": "replace"}}}),  # recency-style rank by decay only
    ("fscore-avg-maxboost", {"query": {"function_score": {
        "query": {"match": {"text": {"query": "agent token",
                                     "operator": "or"}}},
        "functions": [
            {"filter": {"term": {"role": "assistant"}}, "weight": 4.0,
             "field_value_factor": {"field": "turn_idx",
                                    "modifier": "ln1p", "missing": 0}},
            {"weight": 2.0},
        ],
        "score_mode": "avg", "boost_mode": "sum", "max_boost": 3.0}}}),
    ("fscore-first-linear", {"query": {"function_score": {
        "query": {"match": {"text": {"query": "spark term",
                                     "operator": "or"}}},
        "functions": [
            {"filter": {"term": {"tool": "bash"}}, "weight": 5.0},
            {"linear": {"turn_idx": {"origin": 50, "scale": 40}}},
        ],
        "score_mode": "first", "boost_mode": "multiply",
        "boost": 1.5}}}),
    ("fscore-minscore-matchall", {"query": {"function_score": {
        "exp": {"turn_idx": {"origin": 0, "scale": 30, "decay": 0.3}},
        "boost_mode": "replace", "min_score": 0.25}}}),  # wrapped
    # match_all: unscored wrapped -> qscore 1.0 (constant-score-leaf)
    ("fscore-in-should", {"query": {"bool": {
        "should": [
            {"function_score": {
                "query": {"match": {"text": "spark"}},
                "field_value_factor": {"field": "turn_idx",
                                       "modifier": "sqrt",
                                       "missing": 0}}},
            {"match": {"text": "w00042"}},
        ],
        "minimum_should_match": 1}}}),
    ("fscore-max-mode-meta-wrapped", {"query": {"function_score": {
        "query": {"bool": {"filter": [{"term": {"role": "user"}}]}},
        "functions": [
            {"filter": {"range": {"turn_idx": {"lt": 5}}},
             "weight": 0.25},
            {"filter": {"term": {"tool": "browser"}}, "weight": 8.0},
        ],
        "score_mode": "max", "boost_mode": "multiply"}}}),
    # ---- rank_feature / distance_feature (round 5): scoring leaf
    # queries desugared onto function_score; turn_idx == 0 docs must
    # NOT match rank_feature (the ES positive-feature rule)
    ("rank-feature-saturation", {"query": {"rank_feature": {
        "field": "turn_idx", "saturation": {"pivot": 10}}}}),
    ("rank-feature-sigmoid-boost", {"query": {"rank_feature": {
        "field": "turn_idx", "boost": 2.5,
        "sigmoid": {"pivot": 20, "exponent": 2}}}}),
    ("rank-feature-log-in-should", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark agent",
                                     "operator": "or"}}}],
        "should": [{"rank_feature": {
            "field": "turn_idx", "log": {"scaling_factor": 2}}}],
    }}}),
    ("distance-feature-recency", {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark term",
                                     "operator": "or"}}}],
        "should": [{"distance_feature": {
            "field": "ts", "origin": "2025-06-29T00:00:00",
            "pivot": "3d", "boost": 5.0}}],
    }}}),
    ("distance-feature-top", {"query": {"distance_feature": {
        "field": "ts", "origin": "2025-06-15T00:00:00||/d",
        "pivot": "12h"}}}),
    # ---- script_score (round 5, resumed closing): painless-subset
    # scripts compiled to Catalyst columns; the pytest oracle
    # re-evaluates the SAME source through Python's own parser + numpy
    # (_script_vec) — an independent second implementation
    ("script-score-log", {"query": {"script_score": {
        "query": {"match": {"text": {"query": "key agg",
                                     "operator": "or"}}},
        "script": {
            "source": "_score * Math.log(2 + doc['turn_idx'].value "
                      "/ params.d)",
            "params": {"d": 7}}}}}),
    ("script-score-in-should", {"query": {"bool": {
        "must": [{"match": {"text": "the_hot_term"}}],
        "should": [{"script_score": {
            "query": {"term": {"role": "user"}},
            "script": "Math.sqrt(1 + doc['turn_idx'].value)"}}],
    }}}),
    ("script-score-minscore", {"query": {"script_score": {
        "query": {"match_all": {}},
        "script": {"source":
                   "Math.max(doc['turn_idx'].value, params.f) / "
                   "(1 + doc['turn_idx'].value)",
                   "params": {"f": 5.0},
                   "lang": "painless"},
        "min_score": 0.5, "boost": 2.0}}}),
    ("script-score-precedence", {"query": {"script_score": {
        "query": {"match": {"text": "hash"}},
        "script": "1 + _score * 2 - -3 / (1 + Math.abs("
                  "doc['turn_idx'].value - 10))"}}}),
    # ---- no required clause: an empty bool matches every doc at score
    # 0 (ES match_all), in every context that wraps it
    ("empty-bool", {"query": {"bool": {}}}),
    ("must-not-empty-bool", {"query": {"bool": {
        "must_not": [{"bool": {}}]}}}),
    ("constant-score-empty-bool", {"query": {"constant_score": {
        "filter": {"bool": {}}}}}),
]


@pytest.mark.parametrize("label,q", DSL_QUERIES, ids=[x[0] for x in DSL_QUERIES])
def test_dsl_naive_matches_oracle(spark, docs, docs_pdf, label, q):
    got = search_dsl(docs, q, 10).toPandas()
    want = dsl_oracle(docs_pdf, q, 10)
    _assert_rank_identical(got, want, label)


@pytest.mark.parametrize("label,q", DSL_QUERIES, ids=[x[0] for x in DSL_QUERIES])
def test_dsl_indexed_matches_naive(spark, docs, dsl_index, label, q):
    got = search_dsl_indexed(spark, dsl_index, q, 10, docs_df=docs).toPandas()
    want = search_dsl(docs, q, 10).toPandas()
    _assert_rank_identical(got, want, label)


def test_match_bool_prefix(spark, docs, dsl_index):
    """match_bool_prefix == its ES-documented desugar (matches per
    complete term + a single-term prefix expansion), in both
    operators, inside bool contexts, and on the indexed executor;
    unsupported options fail loud."""

    mbp = {"query": {"match_bool_prefix": {"text": "spark ag"}}}
    hand = {"query": {"bool": {"should": [
        {"match": {"text": {"query": "spark"}}},
        {"match_phrase_prefix": {"text": {"query": "ag"}}},
    ]}}}
    a = search_dsl(docs, mbp, 10).toPandas()
    b = search_dsl(docs, hand, 10).toPandas()
    _assert_rank_identical(a, b, "mbp==desugar")
    assert len(a) == 10
    gi = search_dsl_indexed(spark, dsl_index, mbp, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, a, "mbp-indexed")

    # operator and: every clause must match
    mand = {"query": {"match_bool_prefix": {"text": {
        "query": "spark te", "operator": "and", "max_expansions": 3}}}}
    hand2 = {"query": {"bool": {"must": [
        {"match": {"text": {"query": "spark"}}},
        {"match_phrase_prefix": {"text": {"query": "te",
                                          "max_expansions": 3}}},
    ]}}}
    a2 = search_dsl(docs, mand, 10).toPandas()
    b2 = search_dsl(docs, hand2, 10).toPandas()
    _assert_rank_identical(a2, b2, "mbp-and==desugar")

    # rides bool contexts as a child bool
    nested = {"query": {"bool": {
        "must": [{"match": {"text": "the_hot_term"}}],
        "should": [{"match_bool_prefix": {"text": "agent w00"}}],
    }}}
    a3 = search_dsl(docs, nested, 10).toPandas()
    gi3 = search_dsl_indexed(spark, dsl_index, nested, 10,
                             docs_df=docs).toPandas()
    _assert_rank_identical(gi3, a3, "mbp-nested-indexed")

    for bad in (
        {"match_bool_prefix": {"text": {"query": "x",
                                        "fuzziness": 1}}},
        {"match_bool_prefix": {"text": {"query": "x y",
                                        "operator": "xor"}}},
        {"match_bool_prefix": {"text": {"query": "x y",
                                        "operator": "and",
                                        "minimum_should_match": 1}}},
        {"match_bool_prefix": {"text": "..."}},
    ):
        with pytest.raises(DslError):
            search_dsl(docs, {"query": bad}, 5)


def test_rank_distance_feature_rejects(spark, docs):
    # saturation without pivot: ES's default comes from index stats
    # this engine does not keep — silent divergence, so fail loud
    with pytest.raises(DslError, match="explicit pivot"):
        search_dsl(docs, {"query": {"rank_feature": {
            "field": "turn_idx"}}}, 5)
    with pytest.raises(DslError, match="unsupported rank_feature"):
        search_dsl(docs, {"query": {"rank_feature": {
            "field": "turn_idx", "positive_score_impact": False}}}, 5)
    with pytest.raises(DslError, match="at most one of"):
        search_dsl(docs, {"query": {"rank_feature": {
            "field": "turn_idx", "saturation": {"pivot": 1},
            "log": {"scaling_factor": 2}}}}, 5)
    with pytest.raises(DslError, match="time value"):
        search_dsl(docs, {"query": {"distance_feature": {
            "field": "ts", "origin": "2025-06-15T00:00:00",
            "pivot": 7}}}, 5)
    with pytest.raises(DslError, match="datetime or date math"):
        search_dsl(docs, {"query": {"distance_feature": {
            "field": "ts", "origin": {"lat": 41, "lon": -71},
            "pivot": "7d"}}}, 5)
    with pytest.raises(DslError, match="overflows"):
        search_dsl(docs, {"query": {"rank_feature": {
            "field": "turn_idx",
            "sigmoid": {"pivot": 1e200, "exponent": 2}}}}, 5)


def test_distance_feature_tz_aware_origin(spark, docs):
    """An explicit UTC offset in the origin CONVERTS to the same
    instant — '+02:00' at 02:00 equals the naive UTC midnight form."""
    from prow_jobs_scraper_spark.search.dsl import search_dsl

    def run(origin):
        return search_dsl(docs, {"query": {"distance_feature": {
            "field": "ts", "origin": origin, "pivot": "1d"}}},
            8).toPandas()

    a = run("2025-06-15T00:00:00")
    b = run("2025-06-15T02:00:00+02:00")
    pd.testing.assert_frame_equal(a, b)


def test_fragment_tags_with_backslash_stay_literal(spark, docs):
    """User-supplied highlight tags containing backslashes must be
    inserted literally, not interpreted as regex templates."""
    from prow_jobs_scraper_spark.search.dsl import execute_request

    got = execute_request(docs, {
        "query": {"match": {"text": "spark"}}, "size": 2,
        "highlight": {"fields": {"text": {}},
                      "number_of_fragments": 1,
                      "pre_tags": ["<b c=\"a\\b\">"],
                      "post_tags": ["</b>"]}}).toPandas()
    assert len(got) and all(
        "<b c=\"a\\b\">spark</b>" in f
        for fr in got["highlight_text"] for f in fr)


def test_rank_feature_excludes_nonpositive(spark, docs, docs_pdf):
    # the ES positive-feature rule: turn_idx == 0 docs never match
    got = search_dsl(docs, {"query": {"rank_feature": {
        "field": "turn_idx", "saturation": {"pivot": 10}}}},
        len(docs_pdf)).toPandas()
    zero_ids = set(docs_pdf.loc[docs_pdf["turn_idx"] <= 0, "doc_id"])
    assert zero_ids and not (set(got["doc_id"]) & zero_ids)
    assert len(got) == len(docs_pdf) - len(zero_ids)


# --------------------------------------------------------------------------
# 3. edge semantics
# --------------------------------------------------------------------------

def test_match_all_scores_zero_ordered_by_doc_id(spark, docs, dsl_index):
    q = {"query": {"match_all": {}}}
    got = search_dsl(docs, q, 7).toPandas()
    assert (got["score"] == 0.0).all()
    assert got["doc_id"].is_monotonic_increasing
    gi = search_dsl_indexed(spark, dsl_index, q, 7).toPandas()
    assert got["doc_id"].tolist() == gi["doc_id"].tolist()


def test_pure_filter_scores_zero(spark, docs, docs_pdf, dsl_index):
    q = {"query": {"bool": {"filter": [{"term": {"role": "tool"}}]}}}
    got = search_dsl(docs, q, 10).toPandas()
    assert (got["score"] == 0.0).all()
    n_expect = int((docs_pdf["role"] == "tool").sum())
    assert len(got) == min(10, n_expect)
    gi = search_dsl_indexed(spark, dsl_index, q, 10).toPandas()
    assert got["doc_id"].tolist() == gi["doc_id"].tolist()


def test_must_absent_term_empty(spark, docs, dsl_index):
    q = {"query": {"bool": {"must": [
        {"match": {"text": {"query": "spark zzz_never_appears",
                            "operator": "and"}}}]}}}
    assert search_dsl(docs, q, 10).count() == 0
    assert search_dsl_indexed(spark, dsl_index, q, 10).count() == 0


def test_msm_above_live_should_is_empty(spark, docs, dsl_index):
    q = {"query": {"bool": {"should": [
        {"match": {"text": "spark"}},
        {"match": {"text": "zzz_never_appears"}},
    ], "minimum_should_match": 2}}}
    assert search_dsl(docs, q, 10).count() == 0
    assert search_dsl_indexed(spark, dsl_index, q, 10).count() == 0


def test_prefix_wildcard_ids_clauses(spark, docs, docs_pdf, dsl_index):
    """prefix / wildcard / ids metadata clauses: left()-based prefix and
    escape-free LIKE translation parse identically in Spark SQL and the
    DuckDB oracle; ids resolves against engine doc_ids. Naive, oracle,
    and indexed all agree; ungrammatical values raise."""
    q1 = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark",
                                     "operator": "or"}}}],
        "filter": [{"prefix": {"role": {"value": "assis"}}}]}}}
    q2 = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark",
                                     "operator": "or"}}}],
        "filter": [{"wildcard": {"tool": "b*h"}}]}}}  # bash, not browser
    ids = sorted(docs_pdf["doc_id"].tolist())[:3]
    q3 = {"query": {"bool": {"filter": [{"ids": {"values": ids}}]}}}
    for label, q in (("prefix", q1), ("wildcard", q2), ("ids", q3)):
        got = search_dsl(docs, q, 10).toPandas()
        want = dsl_oracle(docs_pdf, q, 10)
        _assert_rank_identical(got, want, label)
        gi = search_dsl_indexed(spark, dsl_index, q, 10,
                                docs_df=docs).toPandas()
        _assert_rank_identical(gi, want, f"{label}-indexed")
    assert search_dsl(docs, q3, 10).count() == 3

    with pytest.raises(DslError):  # % would need LIKE escaping
        parse_query({"wildcard": {"role": "100%*"}})
    with pytest.raises(DslError):
        parse_query({"ids": {"values": [1.5]}})
    with pytest.raises(DslError):
        parse_query({"prefix": {"role": ""}})


def test_regexp_and_constant_score_validation():
    """Out-of-grammar regexp syntax (Lucene operators, escapes, Java
    extensions, anchors) and malformed constant_score bodies fail loud
    instead of silently diverging from the user's ES cluster."""
    for bad in ("a~b", "a&b", "<1-9>", "a#", "a@", "a\\d",
                "(?i)abc", "(?=x)y", "^abc", "abc$", "[a-z", "a{2,1}"):
        with pytest.raises(DslError):
            parse_query({"regexp": {"role": bad}})
    with pytest.raises(DslError):
        parse_query({"regexp": {"role": ""}})
    with pytest.raises(DslError):  # flags would change match semantics
        parse_query({"regexp": {"role": {"value": "a.c",
                                         "flags": "ALL"}}})
    # ^ inside a character class is NEGATION in all three dialects
    spec = parse_query({"regexp": {"role": "[^x]+"}})
    assert spec.filter_sql and "regexp_extract" in spec.filter_sql[0]

    with pytest.raises(DslError):  # filter is mandatory
        parse_query({"constant_score": {"boost": 2.0}})
    with pytest.raises(DslError):
        parse_query({"constant_score": {"filter": {"match_all": {}},
                                        "boost": -1}})
    with pytest.raises(DslError):  # unknown options fail loud
        parse_query({"constant_score": {"filter": {"match_all": {}},
                                        "_name": "x"}})
    spec = parse_query({"constant_score": {
        "filter": {"term": {"role": "user"}}, "boost": 4.0}})
    assert spec.const_boost == 4.0 and len(spec.filter_bool) == 1


def test_boosting_validation():
    """Malformed boosting bodies fail loud: all three keys are
    mandatory, negative_boost must sit in [0, 1] (above 1 would
    PROMOTE on a negative match), unknown options raise."""
    good_pos, good_neg = {"match": {"text": "x"}}, {"term": {"role": "y"}}
    for bad in (
        {"positive": good_pos, "negative": good_neg},  # nb missing
        {"positive": good_pos, "negative_boost": 0.5},
        {"negative": good_neg, "negative_boost": 0.5},
        {"positive": good_pos, "negative": good_neg,
         "negative_boost": 1.5},
        {"positive": good_pos, "negative": good_neg,
         "negative_boost": -0.1},
        {"positive": good_pos, "negative": good_neg,
         "negative_boost": True},
        {"positive": good_pos, "negative": good_neg,
         "negative_boost": 0.5, "_name": "x"},
    ):
        with pytest.raises(DslError):
            parse_query({"boosting": bad})
    spec = parse_query({"boosting": {
        "positive": good_pos, "negative": good_neg,
        "negative_boost": 0.3}})
    assert spec.boosting is not None and spec.boosting[2] == 0.3
    # the tree walkers see THROUGH the boosting pair
    assert len(spec.text_clauses()) == 1
    assert spec.all_sql_fields() == {"role"}


def test_function_score_validation():
    """Malformed function_score bodies fail loud: scripts/random are
    out of grammar, functions must be non-empty, one value source per
    function, metadata-only filters, mode allowlists, numeric
    constraints on decay shapes."""
    for bad in (
        {"random_score": {}},
        {"query": {"match_all": {}}, "script_score": {"script": "1"}},
        {"query": {"match_all": {}}},  # no function at all
        {"functions": []},
        {"functions": [{}]},
        {"functions": [{"filter": {"term": {"role": "u"}}}]},  # no value
        {"functions": [{"weight": 2}], "weight": 3},  # both forms
        {"functions": [{"weight": 2,
                        "field_value_factor": {"field": "turn_idx"},
                        "gauss": {"turn_idx": {"origin": 0,
                                               "scale": 1}}}]},
        {"functions": [{"filter": {"match": {"text": "x"}},
                        "weight": 2}]},  # text filter
        {"functions": [{"weight": 2}], "score_mode": "median"},
        {"functions": [{"weight": 2}], "boost_mode": "xor"},
        {"functions": [{"weight": True}]},
        {"field_value_factor": {"field": "turn_idx",
                                "modifier": "cbrt"}},
        {"field_value_factor": {"field": "turn_idx", "script": "x"}},
        {"gauss": {"turn_idx": {"origin": 0}}},  # scale missing
        {"gauss": {"turn_idx": {"origin": 0, "scale": 0}}},
        {"linear": {"turn_idx": {"origin": 0, "scale": 5,
                                 "decay": 1.0}}},
        {"exp": {"turn_idx": {"origin": 0, "scale": 5,
                              "offset": -1}}},
        {"gauss": {"ts": {"origin": "now-1d", "scale": "1d"}}},  # dates
        {"functions": [{"weight": 2}], "min_score": "high"},
        {"functions": [{"weight": 2}], "boost": 0},
    ):
        with pytest.raises(DslError):
            parse_query({"function_score": bad})
    spec = parse_query({"function_score": {
        "query": {"match": {"text": "x"}},
        "functions": [
            {"filter": {"term": {"role": "user"}}, "weight": 2},
            {"field_value_factor": {"field": "turn_idx", "missing": 0}},
        ]}})
    assert spec.fscore is not None and len(spec.fscore.funcs) == 2
    # the tree walkers see THROUGH the wrapped query; read columns
    # surface for indexed doc_stats validation
    assert len(spec.text_clauses()) == 1
    assert spec.all_sql_fields() == {"role", "turn_idx"}


def test_script_score_validation():
    """Out-of-grammar painless (ternaries, comparisons, method calls,
    strings, unknown/missing/non-numeric params, non-painless lang,
    stored-script ids) and malformed bodies fail loud at PARSE time —
    a silently-misread script would reorder every result."""
    for bad in (
        "not-a-dict",
        {"script": "1"},  # no query
        {"query": {"match_all": {}}},  # no script
        {"query": {"match_all": {}}, "script": 7},
        {"query": {"match_all": {}}, "script": "1",
         "functions": []},  # function_score key
        {"query": {"match_all": {}},
         "script": {"source": "1", "id": "stored"}},
        {"query": {"match_all": {}},
         "script": {"source": "1", "lang": "expression"}},
        {"query": {"match_all": {}},
         "script": {"source": "doc['x'].value > 1 ? 2 : 3"}},
        {"query": {"match_all": {}},
         "script": {"source": "doc['x'].value.length()"}},
        {"query": {"match_all": {}},
         "script": {"source": "params.missing + 1"}},
        {"query": {"match_all": {}},
         "script": {"source": "params.s", "params": {"s": "str"}}},
        {"query": {"match_all": {}},
         "script": {"source": "params.b", "params": {"b": True}}},
        {"query": {"match_all": {}},
         "script": {"source": "Math.tan(1)"}},
        {"query": {"match_all": {}},
         "script": {"source": "Math.pow(2)"}},
        {"query": {"match_all": {}},
         "script": {"source": "Math.max(2)"}},
        {"query": {"match_all": {}},
         "script": {"source": "Math.sqrt(2, 3)"}},
        {"query": {"match_all": {}}, "script": {"source": "1 + "}},
        {"query": {"match_all": {}}, "script": {"source": "(1"}},
        {"query": {"match_all": {}}, "script": {"source": "1 2"}},
        {"query": {"match_all": {}}, "script": {"source": ""}},
        {"query": {"match_all": {}},
         "script": {"source": "_score"}, "min_score": "x"},
    ):
        with pytest.raises(DslError):
            parse_query({"script_score": bad})
    # fields read by the script surface for doc_stats validation
    spec = parse_query({"script_score": {
        "query": {"match": {"text": "x"}},
        "script": "doc['turn_idx'].value + doc['ts'].value"}})
    assert spec.all_sql_fields() == {"turn_idx", "ts"}
    # function_score with a script_score FUNCTION stays out of grammar
    with pytest.raises(DslError):
        parse_query({"function_score": {
            "query": {"match_all": {}},
            "script_score": {"script": "1"}}})


def test_script_score_negative_raises(spark, docs):
    """A negative script result raises at RUN time — ES rejects
    negative scores, and clamping would reorder results unseen."""
    q = {"query": {"script_score": {
        "query": {"match_all": {}},
        "script": "-1 * (1 + doc['turn_idx'].value)"}}}
    with pytest.raises(Exception, match="negative"):
        search_dsl(docs, q, 5).collect()


def test_function_score_null_without_missing_raises(spark):
    """field_value_factor on a NULL value with no ``missing`` raises at
    RUN time (the ES rule is a query-time exception; silent defaulting
    would diverge unseen)."""
    from pyspark.sql import Row
    pdf = [Row(doc_id=1, text="spark x", turn_idx=None),
           Row(doc_id=2, text="spark y", turn_idx=3)]
    df = spark.createDataFrame(pdf, "doc_id long, text string, "
                                    "turn_idx int")
    q = {"query": {"function_score": {
        "query": {"match": {"text": "spark"}},
        "field_value_factor": {"field": "turn_idx"}}}}
    with pytest.raises(Exception, match="NULL turn_idx"):
        search_dsl(df, q, 5).collect()
    ok = {"query": {"function_score": {
        "query": {"match": {"text": "spark"}},
        "field_value_factor": {"field": "turn_idx", "missing": 1}}}}
    assert search_dsl(df, ok, 5).count() == 2


def test_boosting_demotes_not_excludes(spark, docs, docs_pdf, dsl_index):
    """A doc matching both positive and negative stays in the result
    with its score multiplied by negative_boost — never dropped."""
    pos = {"query": {"match": {"text": {"query": "spark agent",
                                        "operator": "or"}}}}
    q = {"query": {"boosting": {
        "positive": pos["query"], "negative": {"match": {
            "text": "the_hot_term"}}, "negative_boost": 0.4}}}
    base = search_dsl(docs, pos, 10_000).toPandas().set_index("doc_id")
    got = search_dsl(docs, q, 10_000).toPandas().set_index("doc_id")
    # same qualifying SET as positive alone
    assert sorted(got.index) == sorted(base.index)
    neg_ids = set(search_dsl(
        docs, {"query": {"match": {"text": "the_hot_term"}}},
        10_000).toPandas()["doc_id"])
    assert neg_ids & set(got.index)  # the demotion actually fires
    for d in got.index:
        want = base.loc[d, "score"] * (0.4 if d in neg_ids else 1.0)
        assert abs(got.loc[d, "score"] - want) < 1e-9
    gi = search_dsl_indexed(spark, dsl_index, q, 10, docs_df=docs)
    _assert_rank_identical(gi.toPandas(),
                           search_dsl(docs, q, 10).toPandas(),
                           "boosting-indexed")


def test_constant_score_pins_scores(spark, docs, docs_pdf, dsl_index):
    """Every hit of a constant_score query carries exactly boost; the
    wrapped clause's BM25 scores never surface (the ES rule)."""
    q = {"query": {"constant_score": {
        "filter": {"match": {"text": "spark"}}, "boost": 2.5}}}
    got = search_dsl(docs, q, 10).toPandas()
    assert len(got) > 0 and (got["score"] == 2.5).all()
    gi = search_dsl_indexed(spark, dsl_index, q, 10,
                            docs_df=docs).toPandas()
    assert got["doc_id"].tolist() == gi["doc_id"].tolist()
    assert (gi["score"] == 2.5).all()


def test_pinned_query(spark, docs, docs_pdf, dsl_index):
    """ES `pinned`: the listed docs rank FIRST in list order (even
    when the organic clause misses them), organic results follow in
    their own order minus the pinned docs; duplicate ids keep their
    first position; the per-index `docs` form and bad id lists fail
    loud. Desugar = bool-should of organic + huge-boost constant_score
    ids clauses, so both executors support it for free."""
    organic = {"match": {"text": "the_hot_term spark"}}
    base = search_dsl(docs, {"query": organic}, 20).toPandas()
    organic_ids = base["doc_id"].tolist()

    # pin: one doc from deep in the organic ranking + one doc that
    # does NOT match the organic query at all
    deep = organic_ids[10]
    nonmatch = int(
        docs_pdf.loc[~docs_pdf["text"].str.contains(
            "the_hot_term|spark"), "doc_id"].iloc[0])
    q = {"query": {"pinned": {"ids": [deep, nonmatch, deep],
                              "organic": organic}}}
    got = search_dsl(docs, q, 10).toPandas()
    # pinned block first, in list order (the dup keeps position 0)
    assert got["doc_id"].tolist()[:2] == [deep, nonmatch]
    # organic tail = the organic ranking minus the pinned docs
    tail = [d for d in organic_ids if d not in (deep, nonmatch)]
    assert got["doc_id"].tolist()[2:] == tail[:8]
    # pinned scores sit above any organic score, descending
    assert got["score"].iloc[0] > got["score"].iloc[1] > 1e29
    gi = search_dsl_indexed(spark, dsl_index, q, 10,
                            docs_df=docs).toPandas()
    assert gi["doc_id"].tolist() == got["doc_id"].tolist()

    for bad in (
        {"ids": [1, 2]},                               # organic missing
        {"organic": organic},                          # ids missing
        {"ids": [], "organic": organic},
        {"ids": ["a"], "organic": organic},
        {"ids": [True], "organic": organic},
        {"ids": [1], "organic": organic, "docs": []},
        {"ids": [1], "organic": {"match": {"text": "x"}, "extra": 1}},
    ):
        with pytest.raises(DslError):
            parse_query({"pinned": bad})


def test_wrapper_query(spark, docs, docs_pdf, dsl_index):
    """ES `wrapper`: a base64-encoded JSON clause decodes and executes
    exactly like its inline form — top level, as a bool child, and
    nested wrapper-in-wrapper; non-base64 / non-JSON / multi-clause
    payloads fail loud."""
    import base64
    import json

    def wrap(clause):
        return {"wrapper": {"query": base64.b64encode(
            json.dumps(clause).encode()).decode()}}

    inline = {"query": {"match": {"text": "the_hot_term spark"}}}
    a = search_dsl(docs, inline, 10).toPandas()
    b = search_dsl(docs, {"query": wrap(inline["query"])}, 10).toPandas()
    pd.testing.assert_frame_equal(a, b)
    # double-wrapped, and as a bool child next to a filter
    c = search_dsl(docs, {"query": wrap(wrap(inline["query"]))},
                   10).toPandas()
    pd.testing.assert_frame_equal(a, c)
    inline_bool = {"query": {"bool": {
        "must": [{"match": {"text": "the_hot_term"}}],
        "filter": [{"term": {"role": "user"}}]}}}
    wrapped_bool = {"query": {"bool": {
        "must": [wrap({"match": {"text": "the_hot_term"}})],
        "filter": [wrap({"term": {"role": "user"}})]}}}
    d = search_dsl(docs, inline_bool, 10).toPandas()
    e = search_dsl(docs, wrapped_bool, 10).toPandas()
    pd.testing.assert_frame_equal(d, e)
    gi = search_dsl_indexed(spark, dsl_index, wrapped_bool, 10,
                            docs_df=docs).toPandas()
    assert gi["doc_id"].tolist() == d["doc_id"].tolist()

    for bad in (
        {"query": "not base64!!"},
        {"query": base64.b64encode(b"[1, 2]").decode()},
        {"query": base64.b64encode(b"{}").decode()},
        {"query": base64.b64encode(b"{\"a\": 1, \"b\": 2}").decode()},
        {"query": 3},
        {},
    ):
        with pytest.raises(DslError):
            parse_query({"wrapper": bad})


def test_parse_dismax_and_multi_match_validation():
    with pytest.raises(DslError):
        parse_query({"dis_max": {"queries": []}})
    with pytest.raises(DslError):  # meta children out-of-grammar
        parse_query({"dis_max": {"queries": [{"term": {"role": "user"}}]}})
    with pytest.raises(DslError):
        parse_query({"dis_max": {"queries": [{"match": {"text": "x"}}],
                                 "tie_breaker": 1.5}})
    with pytest.raises(DslError):
        parse_query({"multi_match": {"query": "x", "fields": []}})
    with pytest.raises(DslError):
        parse_query({"multi_match": {"query": "x", "fields": ["text"],
                                     "type": "cross_fields"}})
    with pytest.raises(DslError):  # non-string field: DslError, never
        parse_query({"multi_match": {"query": "x", "fields": [3]}})
    with pytest.raises(DslError):  # ES boost syntax is out-of-grammar
        parse_query({"multi_match": {"query": "x",
                                     "fields": ["text^2"]}})
    # meta-in-should parses and counts toward the ES default msm
    spec = parse_query({"bool": {"should": [{"term": {"role": "user"}}]}})
    assert spec.should_sql and spec.minimum_should_match() == 1


def test_multi_match_desugar_equivalences(spark, docs, docs_pdf):
    """The ES-documented desugarings hold executable: best_fields ==
    dis_max of per-field matches, most_fields == bool-should of them —
    cross-FIELD ('user' lives in role, 'spark' in text), each field
    scored with its own corpus stats; both checked against the
    independent numpy oracle."""
    mm_best = {"query": {"multi_match": {
        "query": "user spark", "fields": ["text", "role"],
        "tie_breaker": 0.2}}}
    dm = {"query": {"dis_max": {"queries": [
        {"match": {"text": "user spark"}},
        {"match": {"role": "user spark"}}], "tie_breaker": 0.2}}}
    a = search_dsl(docs, mm_best, 10).toPandas()
    b = search_dsl(docs, dm, 10).toPandas()
    _assert_rank_identical(a, b, "best_fields==dis_max")
    _assert_rank_identical(a, dsl_oracle(docs_pdf, mm_best, 10),
                           "best_fields vs oracle")

    mm_most = {"query": {"multi_match": {
        "query": "user spark", "fields": ["text", "role"],
        "type": "most_fields"}}}
    bs = {"query": {"bool": {"should": [
        {"match": {"text": "user spark"}},
        {"match": {"role": "user spark"}}], "minimum_should_match": 1}}}
    a2 = search_dsl(docs, mm_most, 10).toPandas()
    b2 = search_dsl(docs, bs, 10).toPandas()
    _assert_rank_identical(a2, b2, "most_fields==bool-should")
    _assert_rank_identical(a2, dsl_oracle(docs_pdf, mm_most, 10),
                           "most_fields vs oracle")


def test_indexed_rejects_multi_field_text(spark, dsl_index):
    q = {"query": {"multi_match": {"query": "user spark",
                                   "fields": ["text", "role"]}}}
    with pytest.raises(DslError):
        search_dsl_indexed(spark, dsl_index, q, 10)


# --------------------------------------------------------------------------
# 4. aggregations (the ES `aggs` block)
# --------------------------------------------------------------------------

from prow_jobs_scraper_spark.search.dsl import (  # noqa: E402
    dsl_aggregate,
    dsl_aggregate_indexed,
)


def _hot_mask(docs_pdf):
    import re
    return docs_pdf["text"].str.lower().apply(
        lambda t: "the_hot_term" in re.findall(r"[a-z0-9_]+", t))


def test_terms_agg_with_metric(spark, docs, docs_pdf):
    req = {
        "query": {"match": {"text": {"query": "the_hot_term",
                                     "operator": "and"}}},
        "aggs": {"by_role": {"terms": {"field": "role", "size": 10},
                             "aggs": {"avg_turn": {"avg": {
                                 "field": "turn_idx"}}}}},
    }
    got = dsl_aggregate(docs, req).toPandas()
    sel = docs_pdf[_hot_mask(docs_pdf)]
    want = (sel.groupby("role")
            .agg(doc_count=("role", "size"), avg_turn=("turn_idx", "mean"))
            .reset_index()
            .sort_values(["doc_count", "role"], ascending=[False, True]))
    assert got["key"].tolist() == want["role"].tolist()
    assert got["doc_count"].tolist() == want["doc_count"].tolist()
    np.testing.assert_allclose(got["avg_turn"], want["avg_turn"], rtol=1e-12)


def test_terms_agg_min_doc_count_and_missing(spark, docs, docs_pdf,
                                             dsl_index):
    """ES terms `missing` buckets NULL-field docs under the given value;
    `min_doc_count` prunes buckets BEFORE the size cut; min_doc_count 0
    (empty buckets) and unknown agg options fail loud. Both executors."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {"by_tool": {"terms": {
        "field": "tool", "size": 100, "missing": "N/A"}}}}
    got = dsl_aggregate(docs, req).toPandas()
    want = (docs_pdf.assign(tool=docs_pdf["tool"].fillna("N/A"))
            .groupby("tool").size().reset_index(name="n")
            .sort_values(["n", "tool"], ascending=[False, True]))
    assert got["key"].tolist() == want["tool"].tolist()
    assert got["doc_count"].tolist() == want["n"].tolist()
    assert "N/A" in got["key"].tolist()  # NULL tools bucketed
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    assert gi["key"].tolist() == got["key"].tolist()
    assert gi["doc_count"].tolist() == got["doc_count"].tolist()

    # min_doc_count prunes small buckets (before the size cut)
    cut = int(want["n"].median())
    req2 = {"aggs": {"by_tool": {"terms": {
        "field": "tool", "size": 100, "min_doc_count": cut}}}}
    got2 = dsl_aggregate(docs, req2).toPandas()
    want2 = (docs_pdf.dropna(subset=["tool"]).groupby("tool").size()
             .reset_index(name="n"))
    want2 = want2[want2["n"] >= cut].sort_values(
        ["n", "tool"], ascending=[False, True])
    assert got2["key"].tolist() == want2["tool"].tolist()
    assert got2["doc_count"].tolist() == want2["n"].tolist()
    gi2 = dsl_aggregate_indexed(spark, dsl_index, req2).toPandas()
    assert gi2["key"].tolist() == got2["key"].tolist()

    # nested: child min_doc_count prunes cells
    req3 = {"aggs": {"by_role": {"terms": {"field": "role", "size": 10},
                     "aggs": {"by_tool": {"terms": {
                         "field": "tool", "size": 100,
                         "min_doc_count": 2}}}}}}
    got3 = dsl_aggregate(docs, req3).toPandas()
    assert (got3["sub_doc_count"] >= 2).all()

    # fail-loud: min_doc_count 0, unknown options, bad metric options
    for bad in (
        {"aggs": {"a": {"terms": {"field": "tool", "min_doc_count": 0}}}},
        # shard_size became a documented safe no-op in round 5;
        # show_term_doc_count_error (response-shape) stays rejected
        {"aggs": {"a": {"terms": {"field": "tool",
                                  "show_term_doc_count_error": True}}}},
        # time_zone became SUPPORTED on calendar intervals in round 5
        # (test_date_histogram_time_zone); fixed_interval anchoring and
        # gap-fill stepping stay out-of-grammar with it
        {"aggs": {"a": {"date_histogram": {
            "field": "ts", "fixed_interval": "12h",
            "time_zone": "America/New_York"}}}},
        {"aggs": {"a": {"date_histogram": {
            "field": "ts", "calendar_interval": "day",
            "min_doc_count": 0, "time_zone": "America/New_York"}}}},
        {"aggs": {"a": {"date_histogram": {
            "field": "ts", "calendar_interval": "day",
            "time_zone": "Mars/Olympus_Mons"}}}},
        # metric `missing` became SUPPORTED in round 5
        # (test_metric_missing_param); a non-numeric fill still fails
        {"aggs": {"a": {"terms": {"field": "role"},
                        "aggs": {"m": {"avg": {"field": "turn_idx",
                                               "missing": "x"}}}}}},
        {"aggs": {"a": {"range": {"field": "turn_idx", "keyed": True,
                                  "ranges": [{"to": 5}]}}}},
        {"aggs": {"a": {"range": {"field": "turn_idx",
                                  "ranges": [{"to": 5, "frm": 1}]}}}},
        # other_bucket is SUPPORTED since round 5; `keyed` (a
        # response-shape knob) stays out of grammar
        {"aggs": {"a": {"filters": {"keyed": True, "filters": {
            "x": {"match_all": {}}}}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, bad)


def test_terms_include_exclude(spark, docs, docs_pdf, dsl_index):
    """ES terms `include`/`exclude` (round 5, resumed closing): filter
    candidate terms BEFORE min_doc_count/order/size (the ES pipeline
    order) — exact-value lists (typed isin) or Lucene-anchored regexes
    on the term's string form; exclude wins over include; the
    partition-based include protocol fails loud. Both executors,
    pandas oracle."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    base = (docs_pdf.dropna(subset=["tool"]).groupby("tool").size()
            .reset_index(name="n"))

    # regex include: the cut applies AFTER the filter, so size-2 keeps
    # the two biggest MATCHING tools, not two-of-top-10
    req = {"aggs": {"a": {"terms": {
        "field": "tool", "size": 2, "include": "t[a-z]*"}}}}
    got = dsl_aggregate(docs, req).toPandas()
    want = (base[base["tool"].str.fullmatch("t[a-z]*")]
            .sort_values(["n", "tool"], ascending=[False, True]).head(2))
    assert got["key"].tolist() == want["tool"].tolist()
    assert got["doc_count"].tolist() == want["n"].tolist()
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(gi, got)

    # exact-value include list + exclude regex: exclude wins
    tools = sorted(base["tool"])
    inc = tools[:3]
    req2 = {"aggs": {"a": {"terms": {
        "field": "tool", "size": 100, "include": inc,
        "exclude": inc[0]}}}}  # tool names are regex-literal-safe
    got2 = dsl_aggregate(docs, req2).toPandas()
    want2 = (base[base["tool"].isin(inc[1:])]
             .sort_values(["n", "tool"], ascending=[False, True]))
    assert got2["key"].tolist() == want2["tool"].tolist()
    gi2 = dsl_aggregate_indexed(spark, dsl_index, req2).toPandas()
    pd.testing.assert_frame_equal(gi2, got2)

    # numeric exact list on an int field
    got3 = dsl_aggregate(docs, {"aggs": {"a": {"terms": {
        "field": "turn_idx", "size": 100, "order": {"_key": "asc"},
        "include": [0, 3, 7]}}}}).toPandas()
    assert got3["key"].tolist() == [0, 3, 7]
    w3 = docs_pdf["turn_idx"].value_counts()
    assert got3["doc_count"].tolist() == [int(w3[0]), int(w3[3]),
                                          int(w3[7])]

    # interplay with `missing`: the fill value is a term like any
    # other and include can select exactly it
    got4 = dsl_aggregate(docs, {"aggs": {"a": {"terms": {
        "field": "tool", "size": 100, "missing": "N/A",
        "include": ["N/A"]}}}}).toPandas()
    assert got4["key"].tolist() == ["N/A"]
    assert got4["doc_count"].iloc[0] == int(docs_pdf["tool"].isna().sum())

    # fail loud: partition form, empty list, bad types
    for bad in (
        {"include": {"partition": 0, "num_partitions": 4}},
        {"include": []},
        {"include": [True]},
        {"exclude": ""},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": {"a": {"terms": {
                "field": "tool", **bad}}}})


def test_histogram_percentiles_and_null_buckets(spark, docs, docs_pdf,
                                                dsl_index):
    """Round-5 aggs: numeric `histogram` (floor((v-offset)/interval)*
    interval+offset, key-ascending), `percentiles` (EXACT interpolated
    — documented deviation from ES TDigest, flattened <name>_p<pct>),
    and the ES null rule: docs missing the bucket field are DROPPED —
    no NULL-key bucket (Spark's groupBy would otherwise emit one)."""
    import numpy as np

    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    # histogram on turn_idx, interval 7, offset 2
    req = {"aggs": {"h": {"histogram": {
        "field": "turn_idx", "interval": 7, "offset": 2}}}}
    got = dsl_aggregate(docs, req).toPandas()
    ti = docs_pdf["turn_idx"].astype(float)
    want = (np.floor((ti - 2) / 7) * 7 + 2).value_counts().sort_index()
    assert got["key"].tolist() == want.index.tolist()
    assert got["doc_count"].tolist() == want.tolist()
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    assert gi["key"].tolist() == got["key"].tolist()

    # histogram with a metric leaf + min_doc_count
    got2 = dsl_aggregate(docs, {"aggs": {"h": {
        "histogram": {"field": "turn_idx", "interval": 10,
                      "min_doc_count": 5},
        "aggs": {"m": {"max": {"field": "turn_idx"}}}}}}).toPandas()
    assert (got2["doc_count"] >= 5).all()
    assert (got2["m"] >= got2["key"]).all()

    # percentiles: bare and inside a terms bucket, exact vs numpy
    got3 = dsl_aggregate(docs, {"aggs": {"ti": {"percentiles": {
        "field": "turn_idx", "percents": [25, 50, 97.5]}}}}).toPandas()
    assert list(got3.columns) == ["ti_p25", "ti_p50", "ti_p97_5"]
    for col, p in (("ti_p25", 25), ("ti_p50", 50), ("ti_p97_5", 97.5)):
        np.testing.assert_allclose(
            got3[col][0], np.percentile(ti, p), rtol=1e-12)
    got4 = dsl_aggregate(docs, {"aggs": {"by_role": {
        "terms": {"field": "role", "size": 10},
        "aggs": {"ti": {"percentiles": {"field": "turn_idx",
                                        "percents": [50]}}}}}}).toPandas()
    for _, row in got4.iterrows():
        sel = docs_pdf[docs_pdf["role"] == row["key"]]["turn_idx"]
        np.testing.assert_allclose(row["ti_p50"], np.percentile(sel, 50),
                                   rtol=1e-12)

    # percentile_ranks: EXACT fraction <= v as a percentage
    # (documented deviation from ES TDigest interpolation), bare and
    # inside a terms bucket; NULL-bearing field excludes NULLs
    gpr = dsl_aggregate(docs, {"aggs": {"r": {"percentile_ranks": {
        "field": "turn_idx", "values": [3, 7.5]}}}}).toPandas()
    assert list(gpr.columns) == ["r_3", "r_7_5"]
    np.testing.assert_allclose(
        gpr["r_3"][0], 100.0 * (ti <= 3).mean(), rtol=1e-12)
    np.testing.assert_allclose(
        gpr["r_7_5"][0], 100.0 * (ti <= 7.5).mean(), rtol=1e-12)
    gpr2 = dsl_aggregate(docs, {"aggs": {"by_role": {
        "terms": {"field": "role", "size": 10},
        "aggs": {"r": {"percentile_ranks": {
            "field": "turn_idx", "values": [5]}}}}}}).toPandas()
    for _, row in gpr2.iterrows():
        sel = docs_pdf[docs_pdf["role"] == row["key"]]["turn_idx"]
        np.testing.assert_allclose(
            row["r_5"], 100.0 * (sel <= 5).mean(), rtol=1e-12)
    gpri = dsl_aggregate_indexed(spark, dsl_index, {"aggs": {"r": {
        "percentile_ranks": {"field": "turn_idx",
                             "values": [3, 7.5]}}}}).toPandas()
    pd.testing.assert_frame_equal(gpri, gpr)

    # ES null rule: terms on the NULL-bearing tool column emits no
    # NULL-key bucket (and the indexed twin agrees)
    req5 = {"aggs": {"t": {"terms": {"field": "tool", "size": 100}}}}
    got5 = dsl_aggregate(docs, req5).toPandas()
    assert got5["key"].notna().all()
    assert got5["doc_count"].sum() == docs_pdf["tool"].notna().sum()
    gi5 = dsl_aggregate_indexed(spark, dsl_index, req5).toPandas()
    assert gi5["key"].tolist() == got5["key"].tolist()

    for bad in (
        {"aggs": {"h": {"histogram": {"field": "turn_idx"}}}},
        {"aggs": {"h": {"histogram": {"field": "turn_idx",
                                      "interval": 0}}}},
        {"aggs": {"h": {"histogram": {"field": "turn_idx", "interval": 5,
                                      "hard_bounds": {}}}}},
        {"aggs": {"p": {"percentiles": {"field": "turn_idx",
                                        "percents": []}}}},
        {"aggs": {"p": {"percentiles": {"field": "turn_idx",
                                        "percents": [0]}}}},
        {"aggs": {"p": {"percentiles": {"field": "turn_idx",
                                        "tdigest": {}}}}},
        {"aggs": {"r": {"percentile_ranks": {"field": "turn_idx"}}}},
        {"aggs": {"r": {"percentile_ranks": {"field": "turn_idx",
                                             "values": []}}}},
        {"aggs": {"r": {"percentile_ranks": {
            "field": "turn_idx", "values": [1],
            "keyed": True}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, bad)


def test_metric_missing_param(spark, docs, docs_pdf, dsl_index):
    """ES metric `missing` (all field metrics): NULL-field docs count
    as the substitute value instead of being dropped — hand-computed
    semantics on a NULL-bearing frame, naive == indexed on the
    fixture's NULL-bearing `tool` column, and the validation rules
    (numeric required except value_count/cardinality; weighted_avg
    keeps its no-missing rule; bool/list never pass)."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    nulls = spark.createDataFrame(
        [(0, "a x", 10.0, "g1"), (1, "a y", None, "g1"),
         (2, "b x", 30.0, "g2"), (3, "b y", None, "g2")],
        "doc_id long, text string, val double, grp string")

    def agg(a):
        return dsl_aggregate(nulls, {"aggs": a}).toPandas()

    assert agg({"m": {"avg": {"field": "val", "missing": 0}}}
               )["m"][0] == 10.0
    assert agg({"m": {"avg": {"field": "val"}}})["m"][0] == 20.0
    st = agg({"m": {"stats": {"field": "val", "missing": 0}}})
    assert (st["m_count"][0], st["m_min"][0], st["m_sum"][0]) \
        == (4, 0.0, 40.0)
    assert agg({"m": {"value_count": {"field": "val", "missing": 0}}}
               )["m"][0] == 4
    # the fill can COLLIDE with a real value — cardinality sees it
    assert agg({"m": {"cardinality": {"field": "val", "missing": 10.0}}}
               )["m"][0] == 2
    # string missing on a keyword field (value_count/cardinality only)
    assert agg({"m": {"cardinality": {"field": "grp", "missing": "n/a"}}}
               )["m"][0] == 2
    ex = agg({"m": {"extended_stats": {"field": "val", "missing": 0}}})
    assert ex["m_variance"][0] == pytest.approx(
        (100 * 2 + 0 + 400) / 4)  # mean 10 over [0, 0, 10, 30]
    # percentiles/percentile_ranks over the filled values [0, 0, 10, 30]
    assert agg({"m": {"percentiles": {
        "field": "val", "percents": [50], "missing": 0}}}
        )["m_p50"][0] == pytest.approx(5.0)
    assert agg({"m": {"percentile_ranks": {
        "field": "val", "values": [5], "missing": 0}}}
        )["m_5"][0] == pytest.approx(50.0)
    # bucketed: the fill applies per bucket
    bk = agg({"g": {"terms": {"field": "grp"},
                    "aggs": {"a": {"avg": {"field": "val",
                                           "missing": 0}}}}})
    assert sorted(zip(bk["key"], bk["a"])) == [("g1", 5.0), ("g2", 15.0)]

    # naive == indexed on the fixture's NULL-bearing tool column
    req = {"aggs": {"n": {"value_count": {"field": "tool",
                                          "missing": "none"}}}}
    want = dsl_aggregate(docs, req).toPandas()
    assert int(want["n"][0]) == len(docs_pdf)  # every NULL now counts
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(gi, want)
    req2 = {"aggs": {"by_role": {
        "terms": {"field": "role", "size": 10},
        "aggs": {"u": {"cardinality": {"field": "tool",
                                       "missing": "none"}}}}}}
    want2 = dsl_aggregate(docs, req2).toPandas()
    gi2 = dsl_aggregate_indexed(spark, dsl_index, req2).toPandas()
    pd.testing.assert_frame_equal(gi2, want2)
    grp = docs_pdf.groupby("role")["tool"]
    for _, row in want2.iterrows():
        sel = grp.get_group(row["key"])
        assert row["u"] == sel.fillna("none").nunique()

    for bad in (
        {"avg": {"field": "val", "missing": "x"}},     # numeric only
        {"stats": {"field": "val", "missing": "x"}},
        {"percentiles": {"field": "val", "missing": "x"}},
        {"avg": {"field": "val", "missing": True}},    # bool is not 1
        {"avg": {"field": "val", "missing": [1]}},
        {"value_count": {"field": "val", "missing": None}},
        {"weighted_avg": {"value": {"field": "val", "missing": 0},
                          "weight": {"field": "doc_id"}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(nulls, {"aggs": {"m": bad}})


def test_date_histogram_time_zone(spark, docs, docs_pdf, dsl_index):
    """ES date_histogram `time_zone` (calendar intervals): buckets on
    LOCAL-time boundaries keyed by their UTC instants — named IANA
    zones via from/to_utc_timestamp (DST-correct, pinned against a
    python-zoneinfo oracle ACROSS both 2024 US transitions and against
    a DuckDB timezone() replay), fixed "+HH:MM" offsets via pure
    epoch arithmetic, "UTC" as the identity; fixed_interval anchoring
    and gap-fill stepping stay fail-loud with it (covered in
    test_terms_agg_min_doc_count_and_missing's reject list)."""
    from datetime import datetime, timedelta, timezone
    from zoneinfo import ZoneInfo

    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    utc, ny = timezone.utc, ZoneInfo("America/New_York")
    # hourly points across both 2024 US DST transitions + a plain week
    stamps = [datetime(2024, 3, 10, 0, 0, tzinfo=utc) + timedelta(hours=h)
              for h in range(0, 30)]
    stamps += [datetime(2024, 11, 3, 0, 0, tzinfo=utc) + timedelta(hours=h)
               for h in range(0, 30)]
    stamps += [datetime(2024, 1, 14, 20, 0, tzinfo=utc) + timedelta(hours=h)
               for h in range(0, 50, 7)]
    pdf = pd.DataFrame({
        "doc_id": range(len(stamps)),
        "text": ["x"] * len(stamps),
        "ts": [s.replace(tzinfo=None) for s in stamps],  # stored as UTC
    })
    frame = spark.createDataFrame(pdf)

    def buckets(tz=None, iv="day"):
        body = {"field": "ts", "calendar_interval": iv}
        if tz is not None:
            body["time_zone"] = tz
        got = dsl_aggregate(frame, {"aggs": {"d": {
            "date_histogram": body}}}).toPandas()
        return list(zip(got["key"].astype("datetime64[us]"),
                        got["doc_count"]))

    def py_oracle(tz):
        # local-midnight trunc, keyed by its UTC instant
        keys = {}
        for s in stamps:
            loc = s.astimezone(tz)
            k = (loc.replace(hour=0, minute=0, second=0, microsecond=0)
                 .astimezone(utc).replace(tzinfo=None))
            keys[k] = keys.get(k, 0) + 1
        return sorted(keys.items())

    want_ny = [(pd.Timestamp(k), c) for k, c in py_oracle(ny)]
    assert buckets("America/New_York") == want_ny
    # the NY day boundary is NOT a UTC midnight: every key has an
    # offset, and the two DST windows land on 04:00/05:00 UTC keys
    assert all(k.hour in (4, 5) for k, _ in want_ny)
    assert buckets("UTC") == buckets()

    # fixed offset +05:30: pure arithmetic, same rule by hand
    off = timedelta(hours=5, minutes=30)
    want_off = {}
    for s in stamps:
        base = s.replace(tzinfo=None) + off
        k = base.replace(hour=0, minute=0, second=0) - off
        want_off[k] = want_off.get(k, 0) + 1
    assert buckets("+05:30") == [(pd.Timestamp(k), c)
                                 for k, c in sorted(want_off.items())]

    # DuckDB replay (named zone): value-identical across the DST edges
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("f", pdf)
    dk = con.sql(
        "SELECT CAST(timezone('America/New_York', date_trunc('day', "
        "timezone('America/New_York', ts::TIMESTAMPTZ))) AS TIMESTAMP) "
        "AS key, count(*) AS c FROM f GROUP BY 1 ORDER BY 1").df()
    assert [(pd.Timestamp(k), c) for k, c in
            zip(dk["key"].astype("datetime64[us]"), dk["c"])] == want_ny

    # weekly + monthly local buckets agree with the python oracle rule
    for iv, trunc in (("week", lambda d: d - timedelta(days=d.weekday())),
                      ("month", lambda d: d.replace(day=1))):
        want = {}
        for s in stamps:
            loc = s.astimezone(ny)
            day = trunc(loc.replace(hour=0, minute=0, second=0,
                                    microsecond=0))
            k = day.astimezone(utc).replace(tzinfo=None)
            want[k] = want.get(k, 0) + 1
        assert buckets("America/New_York", iv) == \
            [(pd.Timestamp(k), c) for k, c in sorted(want.items())], iv

    # indexed == naive on the fixture corpus (metric leaf riding along)
    req = {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day",
                           "time_zone": "America/New_York"},
        "aggs": {"m": {"max": {"field": "turn_idx"}}}}}}
    want_fix = dsl_aggregate(docs, req).toPandas()
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(gi, want_fix)


def test_multi_terms_agg(spark, docs, docs_pdf, dsl_index):
    """ES `multi_terms` (round 5, resumed closing): compound-key terms
    buckets — the key flattens to the pipe-joined string ES itself
    returns as key_as_string; docs NULL in ANY source drop (unlike a
    bare concat_ws, which would merge distinct tuples); per-source
    `missing` fills; the full terms order/size/min_doc_count grammar
    and metric sub-aggs ride unchanged; sequence pipelines (bucket
    order is not a sequence) and sub-two-source lists fail loud. Both
    executors, pandas oracle."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {"rt": {"multi_terms": {
        "terms": [{"field": "role"}, {"field": "tool"}],
        "size": 1000}}}}
    got = dsl_aggregate(docs, req).toPandas()
    want = (docs_pdf.dropna(subset=["role", "tool"])
            .assign(key=lambda d: d["role"] + "|" + d["tool"])
            .groupby("key").size().reset_index(name="n")
            .sort_values(["n", "key"], ascending=[False, True]))
    assert got["key"].tolist() == want["key"].tolist()
    assert got["doc_count"].tolist() == want["n"].tolist()
    # NULL-in-any-source drops the doc: totals differ by the NULL count
    assert got["doc_count"].sum() == int(docs_pdf["tool"].notna().sum())
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(gi, got)

    # per-source missing fill restores the dropped docs under "N/A"
    got2 = dsl_aggregate(docs, {"aggs": {"rt": {"multi_terms": {
        "terms": [{"field": "role"},
                  {"field": "tool", "missing": "N/A"}],
        "size": 1000}}}}).toPandas()
    assert got2["doc_count"].sum() == len(docs_pdf)
    assert got2["key"].str.endswith("|N/A").any()

    # numeric source renders via its string cast in the joined key
    got3 = dsl_aggregate(docs, {"aggs": {"rt": {"multi_terms": {
        "terms": [{"field": "role"}, {"field": "turn_idx"}],
        "size": 5, "order": {"_key": "asc"}}}}}).toPandas()
    want3 = (docs_pdf
             .assign(key=lambda d: d["role"] + "|"
                     + d["turn_idx"].astype(str))
             .groupby("key").size().reset_index(name="n")
             .sort_values("key").head(5))
    assert got3["key"].tolist() == want3["key"].tolist()
    assert got3["doc_count"].tolist() == want3["n"].tolist()

    # metric order + metric sub-agg + min_doc_count, indexed identity
    req4 = {"aggs": {"rt": {
        "multi_terms": {"terms": [{"field": "role"}, {"field": "tool"}],
                        "size": 7, "min_doc_count": 3,
                        "order": {"m": "desc"}},
        "aggs": {"m": {"avg": {"field": "turn_idx"}}}}}}
    got4 = dsl_aggregate(docs, req4).toPandas()
    assert (got4["doc_count"] >= 3).all()
    assert got4["m"].tolist() == sorted(got4["m"].tolist(), reverse=True)
    base = (docs_pdf.dropna(subset=["role", "tool"])
            .assign(key=lambda d: d["role"] + "|" + d["tool"])
            .groupby("key")
            .agg(n=("key", "size"), m=("turn_idx", "mean")))
    base = base[base["n"] >= 3].sort_values(
        ["m", "key"], ascending=[False, True]).head(7)
    assert got4["key"].tolist() == base.index.tolist()
    np.testing.assert_allclose(got4["m"].to_numpy(),
                               base["m"].to_numpy())
    gi4 = dsl_aggregate_indexed(spark, dsl_index, req4).toPandas()
    pd.testing.assert_frame_equal(gi4, got4)

    # fail loud: <2 sources, unknown options, bad source bodies,
    # min_doc_count 0, sequence pipelines on a non-sequence bucket
    for bad in (
        {"aggs": {"a": {"multi_terms": {
            "terms": [{"field": "role"}]}}}},
        {"aggs": {"a": {"multi_terms": {
            "terms": [{"field": "role"}, {"field": "tool"}],
            "collect_mode": "breadth_first"}}}},
        {"aggs": {"a": {"multi_terms": {
            "terms": [{"field": "role"},
                      {"field": "tool", "size": 3}]}}}},
        {"aggs": {"a": {"multi_terms": {
            "terms": [{"field": "role"}, {"field": "tool"}],
            "min_doc_count": 0}}}},
        {"aggs": {"a": {
            "multi_terms": {"terms": [{"field": "role"},
                                      {"field": "tool"}]},
            "aggs": {"c": {"cumulative_sum": {
                "buckets_path": "_count"}}}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, bad)


def test_cardinality_metric(spark, docs, docs_pdf, dsl_index):
    """ES `cardinality` (round 5): the engine computes the EXACT
    distinct count (ES is HLL-approximate — documented deviation);
    bare, inside a terms bucket, and on the indexed twin;
    precision_threshold fails loud like every unknown option."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    got = dsl_aggregate(docs, {
        "aggs": {"n_convs": {"cardinality": {"field": "conv_id"}}},
    }).toPandas()
    assert int(got["n_convs"][0]) == docs_pdf["conv_id"].nunique()

    req = {"aggs": {"by_role": {
        "terms": {"field": "role", "size": 10},
        "aggs": {"n_convs": {"cardinality": {"field": "conv_id"}}}}}}
    got2 = dsl_aggregate(docs, req).toPandas()
    want = (docs_pdf.groupby("role")
            .agg(doc_count=("role", "size"),
                 n_convs=("conv_id", "nunique")).reset_index()
            .sort_values(["doc_count", "role"], ascending=[False, True]))
    assert got2["key"].tolist() == want["role"].tolist()
    assert got2["n_convs"].tolist() == want["n_convs"].tolist()
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    assert gi["n_convs"].tolist() == got2["n_convs"].tolist()

    with pytest.raises(DslError):
        dsl_aggregate(docs, {"aggs": {"n": {"cardinality": {
            "field": "conv_id", "precision_threshold": 100}}}})


def test_stats_metric_bare_and_in_bucket(spark, docs, docs_pdf):
    """ES `stats` metric: one pass -> count/min/max/avg/sum, flattened
    to <name>_<stat> columns; bare and inside a terms bucket."""
    sel = docs_pdf[_hot_mask(docs_pdf)]
    q = {"query": {"match": {"text": {"query": "the_hot_term",
                                      "operator": "and"}}}}
    got = dsl_aggregate(docs, {
        **q, "aggs": {"ti": {"stats": {"field": "turn_idx"}}},
    }).toPandas()
    assert list(got.columns) == [f"ti_{s}" for s in
                                 ("count", "min", "max", "avg", "sum")]
    assert int(got["ti_count"][0]) == len(sel)
    assert int(got["ti_min"][0]) == sel["turn_idx"].min()
    assert int(got["ti_max"][0]) == sel["turn_idx"].max()
    np.testing.assert_allclose(got["ti_avg"][0], sel["turn_idx"].mean())
    assert int(got["ti_sum"][0]) == sel["turn_idx"].sum()

    got2 = dsl_aggregate(docs, {
        **q, "aggs": {"by_role": {
            "terms": {"field": "role", "size": 10},
            "aggs": {"ti": {"stats": {"field": "turn_idx"}}}}},
    }).toPandas()
    want = (sel.groupby("role")
            .agg(doc_count=("role", "size"), ti_min=("turn_idx", "min"),
                 ti_sum=("turn_idx", "sum"))
            .reset_index()
            .sort_values(["doc_count", "role"], ascending=[False, True]))
    assert got2["key"].tolist() == want["role"].tolist()
    assert got2["ti_min"].tolist() == want["ti_min"].tolist()
    assert got2["ti_sum"].tolist() == want["ti_sum"].tolist()


def test_range_agg_multi_membership(spark, docs, docs_pdf):
    """ES range buckets: from inclusive / to exclusive, open ends,
    OVERLAPPING ranges put one doc in every matching bucket, definition
    order kept, default ES key format."""
    req = {"aggs": {"by_ti": {
        "range": {"field": "turn_idx", "ranges": [
            {"to": 5},
            {"from": 2, "to": 10},          # overlaps the first
            {"from": 10, "key": "tail"},    # explicit key override
        ]},
        "aggs": {"mx": {"max": {"field": "turn_idx"}}}}}}
    got = dsl_aggregate(docs, req).toPandas()
    ti = docs_pdf["turn_idx"]
    want = [("*-5.0", (ti < 5).sum(), ti[ti < 5].max()),
            ("2.0-10.0", ((ti >= 2) & (ti < 10)).sum(),
             ti[(ti >= 2) & (ti < 10)].max()),
            ("tail", (ti >= 10).sum(), ti[ti >= 10].max())]
    assert got["key"].tolist() == [w[0] for w in want]
    assert got["doc_count"].tolist() == [int(w[1]) for w in want]
    assert got["mx"].tolist() == [int(w[2]) for w in want]
    # multi-membership: bucket counts sum past the doc total
    assert sum(r[1] for r in want) > len(docs_pdf[ti.notna()]) - 1


def test_filters_agg_named_buckets(spark, docs, docs_pdf):
    """ES filters agg: independent named predicate buckets (a doc may
    land in several), definition order kept; works under a query."""
    req = {
        "query": {"match": {"text": {"query": "the_hot_term",
                                     "operator": "and"}}},
        "aggs": {"groups": {"filters": {"filters": {
            "assistants": {"term": {"role": "assistant"}},
            "early": {"range": {"turn_idx": {"lt": 3}}},
            "everything": {"match_all": {}},
        }}}},
    }
    got = dsl_aggregate(docs, req).toPandas()
    sel = docs_pdf[_hot_mask(docs_pdf)]
    want = {
        "assistants": int((sel["role"] == "assistant").sum()),
        "early": int((sel["turn_idx"] < 3).sum()),
        "everything": len(sel),
    }
    assert got["key"].tolist() == list(want)  # definition order
    assert got["doc_count"].tolist() == list(want.values())


@pytest.mark.parametrize("req", [
    {"aggs": {"a": {"range": {"field": "turn_idx",
                              "ranges": [{"to": 5}]},
                    "aggs": {"b": {"terms": {"field": "role"}}}}}},
    {"aggs": {"a": {"range": {"field": "turn_idx", "ranges": []}}}},
    {"aggs": {"a": {"range": {"field": "turn_idx", "ranges": [{}]}}}},
    {"aggs": {"a": {"filters": {"filters": {}}}}},
    {"aggs": {"a": {"filters": {"filters": {
        "x": {"match": {"text": "spark"}}}}}}},
], ids=["bucket-under-range", "empty-ranges", "open-open-range",
        "empty-filters", "text-clause-filter"])
def test_multibucket_agg_rejects(spark, docs, req):
    with pytest.raises(DslError):
        dsl_aggregate(docs, req)


def test_terms_order_by_metric_key_and_stats(spark, docs, docs_pdf):
    """ES terms `order`: by a metric sub-agg (the "top N by cost"
    idiom), by _key, and by a stats sub-value (name.avg) — size cut
    applies AFTER the ordering."""
    base = {"query": {"match_all": {}}}
    by_metric = dsl_aggregate(docs, {**base, "aggs": {"by_role": {
        "terms": {"field": "role", "size": 2,
                  "order": {"mean_ti": "desc"}},
        "aggs": {"mean_ti": {"avg": {"field": "turn_idx"}}}}}}).toPandas()
    want = (docs_pdf.groupby("role")["turn_idx"].mean()
            .sort_values(ascending=False))
    assert by_metric["key"].tolist() == want.index[:2].tolist()
    np.testing.assert_allclose(by_metric["mean_ti"], want.iloc[:2])

    by_key = dsl_aggregate(docs, {**base, "aggs": {"by_role": {
        "terms": {"field": "role", "size": 10,
                  "order": {"_key": "asc"}}}}}).toPandas()
    assert by_key["key"].tolist() == sorted(docs_pdf["role"].unique())

    by_stat = dsl_aggregate(docs, {**base, "aggs": {"by_role": {
        "terms": {"field": "role", "size": 10,
                  "order": {"s.max": "asc"}},
        "aggs": {"s": {"stats": {"field": "turn_idx"}}}}}}).toPandas()
    assert (by_stat["s_max"].tolist()
            == sorted(by_stat["s_max"].tolist()))

    with pytest.raises(DslError):  # unknown metric target
        dsl_aggregate(docs, {**base, "aggs": {"x": {
            "terms": {"field": "role", "order": {"nope": "desc"}}}}})
    with pytest.raises(DslError):  # date_histogram takes no order
        dsl_aggregate(docs, {**base, "aggs": {"x": {
            "date_histogram": {"field": "ts", "calendar_interval": "week",
                               "order": {"_key": "desc"}}}}})


def test_fixed_interval_histogram(spark, docs, docs_pdf, dsl_index):
    """ES fixed_interval: exact epoch-anchored multiples (here 12h) —
    checked against a DuckDB epoch-floor replica and the indexed twin;
    validation pins the one-of-two interval rule and the unit grammar."""
    import duckdb

    req = {"aggs": {"halfdays": {"date_histogram": {
        "field": "ts", "fixed_interval": "12h"}}}}
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf[["ts"]])
    want = con.sql("""
        SELECT to_timestamp(floor(epoch(ts) / 43200) * 43200) AS key,
               count(*) AS doc_count
        FROM t GROUP BY 1 ORDER BY 1
    """).df()
    assert got["doc_count"].tolist() == want["doc_count"].tolist()
    assert (pd.to_datetime(got["key"]).tolist()
            == pd.to_datetime(want["key"]).dt.tz_localize(None).tolist())
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(got, gi, check_dtype=False)

    for bad in (
        {"field": "ts"},                                    # neither
        {"field": "ts", "calendar_interval": "week",
         "fixed_interval": "12h"},                          # both
        {"field": "ts", "fixed_interval": "10x"},           # bad unit
        {"field": "ts", "fixed_interval": "0d"},            # zero
        {"field": "ts", "fixed_interval": "500ms"},         # sub-second
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": {"h": {"date_histogram": bad}}})


def test_nested_child_order_by_metric(spark, docs, dsl_index):
    """Child terms inside a date_histogram ordered by a metric leaf —
    and the indexed twin agrees."""
    req = {"aggs": {"weekly": {
        "date_histogram": {"field": "ts", "calendar_interval": "week"},
        "aggs": {"by_role": {
            "terms": {"field": "role", "size": 2,
                      "order": {"m": "desc"}},
            "aggs": {"m": {"max": {"field": "turn_idx"}}}}}}}}
    a = dsl_aggregate(docs, req).toPandas()
    b = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # within each parent bucket the child metric is non-increasing
    for _, grp in a.groupby("key"):
        ms = grp["m"].tolist()
        assert ms == sorted(ms, reverse=True)
        assert len(grp) <= 2


def test_new_aggs_indexed_match_naive(spark, docs, dsl_index):
    """stats / range / filters answered from the index (doc_stats) must
    equal the naive corpus pass — same _apply_agg, different frame."""
    reqs = [
        {"query": {"match": {"text": "the_hot_term"}},
         "aggs": {"ti": {"stats": {"field": "turn_idx"}}}},
        {"aggs": {"r": {"range": {"field": "turn_idx", "ranges": [
            {"to": 5}, {"from": 2, "to": 10}, {"from": 10}]},
            "aggs": {"s": {"stats": {"field": "turn_idx"}}}}}},
        {"query": {"match": {"text": "the_hot_term"}},
         "aggs": {"g": {"filters": {"filters": {
             "assistants": {"term": {"role": "assistant"}},
             "early": {"range": {"turn_idx": {"lt": 3}}},
         }}}}},
    ]
    for req in reqs:
        a = dsl_aggregate(docs, req).toPandas()
        b = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
        assert list(a.columns) == list(b.columns)
        pd.testing.assert_frame_equal(
            a.reset_index(drop=True), b.reset_index(drop=True),
            check_dtype=False, rtol=1e-12)


def test_date_histogram_weekly(spark, docs, docs_pdf):
    req = {
        "query": {"bool": {"filter": [{"term": {"role": "assistant"}}]}},
        "aggs": {"per_week": {"date_histogram": {
            "field": "ts", "calendar_interval": "week"}}},
    }
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        SELECT date_trunc('week', ts) AS key, count(*) AS doc_count
        FROM t WHERE role = 'assistant' GROUP BY 1 ORDER BY 1
    """).df()
    assert pd.to_datetime(got["key"]).tolist() == \
        pd.to_datetime(want["key"]).tolist()
    assert got["doc_count"].tolist() == want["doc_count"].tolist()
    assert got["key"].is_monotonic_increasing


def test_bare_metric_agg(spark, docs, docs_pdf):
    req = {
        "query": {"match": {"text": {"query": "the_hot_term",
                                     "operator": "and"}}},
        "aggs": {"max_turn": {"max": {"field": "turn_idx"}}},
    }
    got = dsl_aggregate(docs, req).toPandas()
    want = int(docs_pdf[_hot_mask(docs_pdf)]["turn_idx"].max())
    assert got.shape == (1, 1)
    assert int(got["max_turn"].iloc[0]) == want


def test_agg_over_provably_empty_query(spark, docs):
    req = {
        "query": {"match": {"text": {"query": "zzz_never_appears",
                                     "operator": "and"}}},
        "aggs": {"by_role": {"terms": {"field": "role"}}},
    }
    assert dsl_aggregate(docs, req).count() == 0
    req2 = {**req, "aggs": {"n": {"value_count": {"field": "role"}}}}
    assert int(dsl_aggregate(docs, req2).toPandas()["n"].iloc[0]) == 0


def test_agg_rejects_bad_requests(spark, docs):
    with pytest.raises(DslError):
        dsl_aggregate(docs, {"query": {"match_all": {}}})  # no aggs
    with pytest.raises(DslError):
        dsl_aggregate(docs, {"aggs": {"a": {"terms": {"field": "role"}},
                                      "b": {"terms": {"field": "tool"}}}})
    with pytest.raises(DslError):
        dsl_aggregate(docs, {"aggs": {"a": {"date_histogram": {
            "field": "ts", "calendar_interval": "fortnight"}}}})
    with pytest.raises(DslError):  # bucket sub-agg missing its interval
        dsl_aggregate(docs, {"aggs": {"a": {"terms": {"field": "role"},
                                            "aggs": {"h": {"date_histogram": {
                                                "field": "ts"}}}}}})
    with pytest.raises(DslError):  # two bucket sub-aggs
        dsl_aggregate(docs, {"aggs": {"a": {"terms": {"field": "role"},
                                            "aggs": {
            "b": {"terms": {"field": "tool"}},
            "c": {"terms": {"field": "conv_id"}}}}}})
    with pytest.raises(DslError):  # three bucket levels
        dsl_aggregate(docs, {"aggs": {"a": {"terms": {"field": "role"},
                                            "aggs": {"b": {
            "terms": {"field": "tool"},
            "aggs": {"c": {"terms": {"field": "conv_id"}}}}}}}})
    with pytest.raises(DslError):  # metric leaf beside a bucket sub-agg
        dsl_aggregate(docs, {"aggs": {"a": {"terms": {"field": "role"},
                                            "aggs": {
            "b": {"terms": {"field": "tool"}},
            "m": {"avg": {"field": "turn_idx"}}}}}})


# --------------------------------------------------------------------------
# 4b. nested aggs: one bucket level inside another (round 4)
# --------------------------------------------------------------------------

_NESTED_AGG_REQ = {
    # the reference's report idiom: per-period per-type metrics
    # (src/jobsautoreport/report.py:184-225) as date_histogram > terms
    "query": {"bool": {"filter": [
        {"terms": {"role": ["user", "assistant"]}}]}},
    "aggs": {"per_week": {
        "date_histogram": {"field": "ts", "calendar_interval": "week"},
        "aggs": {"per_tool": {
            "terms": {"field": "tool", "size": 3},
            "aggs": {"avg_turn": {"avg": {"field": "turn_idx"}}}}}}},
}

_NESTED_AGG_ORACLE = """
WITH q AS (SELECT * FROM t WHERE role IN ('user', 'assistant')),
cells AS (
    SELECT date_trunc('week', ts) AS key, tool AS sub_key,
           count(*) AS sub_doc_count, avg(turn_idx) AS avg_turn
    FROM q WHERE ts IS NOT NULL GROUP BY 1, 2),
tot AS (
    SELECT *, sum(sub_doc_count) OVER (PARTITION BY key) AS doc_count
    FROM cells),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY key ORDER BY sub_doc_count DESC, sub_key ASC) AS rn
    FROM tot WHERE sub_key IS NOT NULL)
SELECT key, doc_count::BIGINT AS doc_count, sub_key,
       sub_doc_count::BIGINT AS sub_doc_count, avg_turn
FROM ranked WHERE rn <= 3
ORDER BY key ASC, sub_doc_count DESC, sub_key ASC
"""


def _cmp_nested(got: pd.DataFrame, want: pd.DataFrame, label: str):
    assert list(got.columns) == ["key", "doc_count", "sub_key",
                                 "sub_doc_count", "avg_turn"], label
    assert len(got) == len(want), label
    assert pd.to_datetime(got["key"]).tolist() == \
        pd.to_datetime(want["key"]).tolist(), label
    for c in ("doc_count", "sub_key", "sub_doc_count"):
        assert got[c].tolist() == want[c].tolist(), f"{label}:{c}"
    np.testing.assert_allclose(got["avg_turn"], want["avg_turn"],
                               rtol=1e-12, err_msg=label)


def test_nested_aggs_date_histogram_terms(spark, docs, docs_pdf):
    got = dsl_aggregate(docs, _NESTED_AGG_REQ).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql(_NESTED_AGG_ORACLE).df()
    _cmp_nested(got, want, "naive-vs-duckdb")
    # parent doc_count counts docs whose tool is NULL too (dropped cells)
    assert (got.groupby("key")["sub_doc_count"].sum()
            <= got.groupby("key")["doc_count"].first()).all()


def test_nested_aggs_indexed_matches_naive(spark, docs, dsl_index,
                                           dsl_segments):
    got = dsl_aggregate(docs, _NESTED_AGG_REQ).toPandas()
    gi = dsl_aggregate_indexed(spark, dsl_index,
                               _NESTED_AGG_REQ).toPandas()
    _cmp_nested(gi, got, "indexed-vs-naive")
    # and over SPLIT segments with different layouts (incremental shape)
    gs = dsl_aggregate_indexed(spark, dsl_segments,
                               _NESTED_AGG_REQ).toPandas()
    _cmp_nested(gs, got, "segments-vs-naive")


def test_nested_aggs_terms_parent_size_cut(spark, docs, docs_pdf):
    # terms parent (size=2) containing a date_histogram child: the
    # parent cut keeps the 2 biggest roles by TOTAL doc_count
    req = {
        "query": {"match_all": {}},
        "aggs": {"by_role": {
            "terms": {"field": "role", "size": 2},
            "aggs": {"per_week": {"date_histogram": {
                "field": "ts", "calendar_interval": "week"}}}}},
    }
    got = dsl_aggregate(docs, req).toPandas()
    top2 = (docs_pdf.groupby("role").size()
            .sort_values(ascending=False).index[:2].tolist())
    assert sorted(got["key"].unique().tolist()) == sorted(top2)
    # parent ordering: doc_count desc, then child key asc within parent
    counts = got.groupby("key", sort=False)["doc_count"].first().tolist()
    assert counts == sorted(counts, reverse=True)
    for _, grp in got.groupby("key"):
        assert grp["sub_key"].is_monotonic_increasing


def test_pipeline_aggs_cumulative_sum_and_derivative(spark, docs,
                                                     docs_pdf, dsl_index):
    """ES parent pipeline aggs over a date_histogram: cumulative_sum
    on _count + derivative on a metric path, oracle = duckdb window
    replay; the first bucket's derivative is NULL (ES omits it); both
    executors identical."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {"per_week": {
        "date_histogram": {"field": "ts", "calendar_interval": "week"},
        "aggs": {
            "avg_turn": {"avg": {"field": "turn_idx"}},
            "running": {"cumulative_sum": {"buckets_path": "_count"}},
            "delta": {"derivative": {"buckets_path": "avg_turn"}},
        }}}}
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        WITH b AS (
          SELECT date_trunc('week', ts) AS key, count(*) AS doc_count,
                 avg(turn_idx) AS avg_turn
          FROM t GROUP BY 1)
        SELECT key, doc_count, avg_turn,
               sum(doc_count) OVER (ORDER BY key) AS running,
               avg_turn - lag(avg_turn) OVER (ORDER BY key) AS delta
        FROM b ORDER BY key
    """).df()
    assert len(got) == len(want) > 1
    assert got["key"].astype("datetime64[us]").tolist() \
        == want["key"].astype("datetime64[us]").tolist()
    assert got["doc_count"].tolist() == want["doc_count"].tolist()
    assert got["running"].tolist() == want["running"].astype(int).tolist()
    assert pd.isna(got["delta"].iloc[0]) and pd.isna(want["delta"].iloc[0])
    np.testing.assert_allclose(got["delta"].iloc[1:],
                               want["delta"].iloc[1:], rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.sort_values("key").reset_index(drop=True))


def test_bucket_script_and_selector_match_duckdb(spark, docs, docs_pdf,
                                                 dsl_index):
    """ES bucket_script / bucket_selector: per-bucket painless
    arithmetic over buckets_path vars, on ANY single-level parent
    (terms included — no sequence dependency), applied to the FINAL
    bucket list; oracle = hand-written duckdb replay; both executors;
    a bucket_sort may target the script output."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    con = duckdb.connect()
    con.register("t", docs_pdf)

    req = {"aggs": {"by_role": {
        "terms": {"field": "role"},
        "aggs": {
            "avg_turn": {"avg": {"field": "turn_idx"}},
            "per_doc": {"bucket_script": {
                "buckets_path": {"a": "avg_turn", "c": "_count"},
                "script": "(params.a + 1.5) / params.c"}},
            "keep": {"bucket_selector": {
                "buckets_path": {"c": "_count"},
                "script": "params.c > 100 && params.c != 0"}},
        }}}}
    got = dsl_aggregate(docs, req).toPandas()
    want = con.sql("""
        SELECT * FROM (
          SELECT role AS key, count(*) AS doc_count,
                 avg(turn_idx) AS avg_turn,
                 (avg(turn_idx) + 1.5) / count(*) AS per_doc
          FROM t WHERE role IS NOT NULL GROUP BY 1)
        WHERE doc_count > 100 ORDER BY doc_count DESC, key
    """).df()
    assert len(got) == len(want) >= 1
    assert got["key"].tolist() == want["key"].tolist()
    np.testing.assert_allclose(got["per_doc"], want["per_doc"],
                               rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.reset_index(drop=True), got.reset_index(drop=True))

    # selector runs POST-size (the reduced response ES pipelines see):
    # survivors of the top-1, NOT top-1 of the survivors — a threshold
    # between the 1st and 2nd counts separates the two orderings
    # (post-size: the lone top bucket is dropped -> 0 rows; pre-size
    # would instead return the 2nd bucket)
    vc = docs_pdf["role"].value_counts()
    thr = (int(vc.iloc[0]) + int(vc.iloc[1])) / 2
    assert int(vc.iloc[0]) > int(vc.iloc[1])
    req_sz = {"aggs": {"by_role": {
        "terms": {"field": "role", "size": 1},
        "aggs": {"drop_top": {"bucket_selector": {
            "buckets_path": {"c": "_count"},
            "script": f"params.c < {thr}"}}}}}}
    assert dsl_aggregate(docs, req_sz).count() == 0

    # script output feeds bucket_sort; scripts compose with sequence
    # pipelines on a histogram-family parent
    req2 = {"aggs": {"per_week": {
        "date_histogram": {"field": "ts", "calendar_interval": "week"},
        "aggs": {
            "running": {"cumulative_sum": {"buckets_path": "_count"}},
            "frac": {"bucket_script": {
                "buckets_path": {"c": "_count", "r": "running"},
                "script": "params.c / params.r"}},
            "top": {"bucket_sort": {"sort": [{"frac": "desc"}],
                                    "size": 3}},
        }}}}
    got2 = dsl_aggregate(docs, req2).toPandas()
    want2 = con.sql("""
        WITH b AS (
          SELECT date_trunc('week', ts) AS key, count(*) AS doc_count
          FROM t GROUP BY 1),
        r AS (
          SELECT key, doc_count,
                 sum(doc_count) OVER (ORDER BY key) AS running
          FROM b)
        SELECT key, doc_count, running,
               doc_count / running AS frac
        FROM r ORDER BY frac DESC, key LIMIT 3
    """).df()
    assert got2["key"].astype("datetime64[us]").tolist() \
        == want2["key"].astype("datetime64[us]").tolist()
    np.testing.assert_allclose(got2["frac"], want2["frac"], rtol=1e-12)
    gi2 = dsl_aggregate_indexed(spark, dsl_index, req2).toPandas()
    pd.testing.assert_frame_equal(
        gi2.reset_index(drop=True), got2.reset_index(drop=True))

    # "running" above references a PIPELINE output as a script var
    # (valid in ES) — pin that it resolved the windowed value
    assert (got2["doc_count"] / got2["running"]
            == got2["frac"]).all()


def test_min_doc_count_zero_gap_fill(spark, docs, docs_pdf, dsl_index):
    """ES min_doc_count 0 on histogram-family buckets: empty buckets
    between the observed (or extended_bounds-widened) min and max keys
    are emitted with doc_count 0 / NULL metrics; sequence pipelines
    see the FILLED sequence; oracle = duckdb generate_series replay;
    both executors; misuse fails loud."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    con = duckdb.connect()
    con.register("t", docs_pdf)

    # daily histogram over a FILTERED set (sparse days -> real gaps),
    # with a metric and a cumulative_sum over the filled sequence
    req = {"query": {"match": {"text": "the_hot_term"}},
           "aggs": {"per_day": {
               "date_histogram": {"field": "ts",
                                  "calendar_interval": "day",
                                  "min_doc_count": 0},
               "aggs": {"avg_turn": {"avg": {"field": "turn_idx"}},
                        "run": {"cumulative_sum": {
                            "buckets_path": "_count"}}}}}}
    got = dsl_aggregate(docs, req).toPandas()
    want = con.sql("""
        WITH q AS (
          SELECT * FROM t
          WHERE list_contains(
            regexp_extract_all(lower(text), '[a-z0-9_]+'),
            'the_hot_term')),
        b AS (
          SELECT date_trunc('day', ts) AS key, count(*) AS doc_count,
                 avg(turn_idx) AS avg_turn
          FROM q GROUP BY 1),
        days AS (
          SELECT unnest(generate_series(
            (SELECT min(key) FROM b), (SELECT max(key) FROM b),
            INTERVAL 1 DAY)) AS key)
        SELECT d.key, coalesce(b.doc_count, 0) AS doc_count,
               b.avg_turn,
               sum(coalesce(b.doc_count, 0))
                 OVER (ORDER BY d.key) AS run
        FROM days d LEFT JOIN b ON d.key = b.key ORDER BY d.key
    """).df()
    assert len(got) == len(want) > 2
    assert (got["doc_count"] == 0).any(), "fixture produced no gaps"
    assert got["key"].astype("datetime64[us]").tolist() \
        == want["key"].astype("datetime64[us]").tolist()
    assert got["doc_count"].tolist() \
        == want["doc_count"].astype(int).tolist()
    assert got["run"].tolist() == want["run"].astype(int).tolist()
    mask = got["doc_count"] > 0
    assert got["avg_turn"].isna().tolist() \
        == (~mask).tolist()  # empty buckets: NULL metric (ES)
    np.testing.assert_allclose(got.loc[mask, "avg_turn"],
                               want.loc[mask.values, "avg_turn"],
                               rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req,
                               docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(
        gi.reset_index(drop=True), got.reset_index(drop=True))

    # numeric histogram + extended_bounds widening BOTH ends; bounds
    # are bucketed with the data path's arithmetic (offset honored)
    lo = float(docs_pdf["turn_idx"].min())
    hi = float(docs_pdf["turn_idx"].max())
    req2 = {"aggs": {"h": {"histogram": {
        "field": "turn_idx", "interval": 2.5, "offset": 0.5,
        "min_doc_count": 0,
        "extended_bounds": {"min": lo - 7, "max": hi + 7}}}}}
    g2 = dsl_aggregate(docs, req2).toPandas()
    step = np.diff(g2["key"])
    assert abs(step - 2.5).max() < 1e-12
    assert g2["key"].iloc[0] <= lo - 7 < g2["key"].iloc[0] + 2.5
    assert g2["key"].iloc[-1] <= hi + 7 < g2["key"].iloc[-1] + 2.5
    assert int(g2["doc_count"].sum()) == len(docs_pdf)
    gi2 = dsl_aggregate_indexed(spark, dsl_index, req2).toPandas()
    pd.testing.assert_frame_equal(
        gi2.reset_index(drop=True), g2.reset_index(drop=True))

    # an empty qualifying set + extended_bounds still emits the range
    g3 = dsl_aggregate(docs, {
        "query": {"term": {"role": "no_such_role"}},
        "aggs": {"h": {"histogram": {
            "field": "turn_idx", "interval": 5.0, "min_doc_count": 0,
            "extended_bounds": {"min": 0, "max": 10}}}}}).toPandas()
    assert g3["key"].tolist() == [0.0, 5.0, 10.0]
    assert g3["doc_count"].tolist() == [0, 0, 0]

    for bad in (
        # extended_bounds without min_doc_count 0
        {"h": {"histogram": {"field": "turn_idx", "interval": 5.0,
                             "extended_bounds": {"min": 0, "max": 1}}}},
        # terms cannot gap-fill (the background term set is unbounded)
        {"t": {"terms": {"field": "role", "min_doc_count": 0}}},
        # nested parents cannot gap-fill
        {"w": {"date_histogram": {"field": "ts",
                                  "calendar_interval": "week",
                                  "min_doc_count": 0},
               "aggs": {"r": {"terms": {"field": "role"}}}}},
        # malformed bounds
        {"h": {"histogram": {"field": "turn_idx", "interval": 5.0,
                             "min_doc_count": 0,
                             "extended_bounds": {"min": 10, "max": 0}}}},
        {"h": {"histogram": {"field": "turn_idx", "interval": 5.0,
                             "min_doc_count": 0,
                             "extended_bounds": {"min": 0}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": bad}).collect()


def test_bucket_script_rejects(spark, docs):
    from prow_jobs_scraper_spark.search.dsl import dsl_aggregate

    def agg(sub):
        return {"aggs": {"a": {"terms": {"field": "role"},
                               "aggs": sub}}}

    bp = {"buckets_path": {"c": "_count"}}
    for sub, msg in [
        ({"s": {"bucket_script": {**bp, "script": "params.c > 1"}}},
         "must be numeric"),
        ({"s": {"bucket_selector": {**bp, "script": "params.c + 1"}}},
         "must be boolean"),
        ({"s": {"bucket_script": {**bp,
                                  "script": "Math.log(params.c)"}}},
         "unsupported syntax"),
        ({"s": {"bucket_script": {**bp, "script": "params.x + 1"}}},
         "not in buckets_path"),
        ({"s": {"bucket_script": {**bp, "script": "(params.c"}}},
         "unbalanced"),
        ({"s": {"bucket_script": {**bp, "script": "1 < params.c < 3"}}},
         "chained comparisons"),
        ({"s": {"bucket_script": {**bp, "script": "params.c + 1",
                                  "gap_policy": "skip"}}},
         "unsupported bucket_script options"),
        ({"s": {"bucket_script": {"buckets_path": "_count",
                                  "script": "1 + 1"}}},
         "var: path"),
        ({"doc_count": {"bucket_script": {**bp,
                                          "script": "params.c"}}},
         "collides"),
    ]:
        with pytest.raises(DslError, match=msg):
            dsl_aggregate(docs, agg(sub)).collect()


def test_pipeline_agg_rejects(spark, docs):
    from prow_jobs_scraper_spark.search.dsl import dsl_aggregate

    def agg(sub, parent=None):
        parent = parent or {"date_histogram": {
            "field": "ts", "calendar_interval": "week"}}
        return {"aggs": {"a": {**parent, "aggs": sub}}}

    # terms parent: no bucket sequence for a running sum (ES rule)
    with pytest.raises(DslError, match="histogram-family parent"):
        dsl_aggregate(docs, agg(
            {"r": {"cumulative_sum": {"buckets_path": "_count"}}},
            parent={"terms": {"field": "role"}}))
    # silently-ignored options are the divergence failure mode
    with pytest.raises(DslError, match="unsupported cumulative_sum"):
        dsl_aggregate(docs, agg({"r": {"cumulative_sum": {
            "buckets_path": "_count", "gap_policy": "skip"}}}))
    with pytest.raises(DslError, match="not a metric"):
        dsl_aggregate(docs, agg({"r": {"derivative": {
            "buckets_path": "nope"}}}))
    with pytest.raises(DslError, match="collides"):
        dsl_aggregate(docs, agg({"doc_count": {"cumulative_sum": {
            "buckets_path": "_count"}}}))
    # pipelines cannot ride a nested bucket level
    with pytest.raises(DslError, match="nested bucket"):
        dsl_aggregate(docs, agg({
            "r": {"cumulative_sum": {"buckets_path": "_count"}},
            "by_role": {"terms": {"field": "role"}}}))


def test_auto_date_histogram(spark, docs, docs_pdf, dsl_index):
    """ES `auto_date_histogram`: the smallest ES-ladder interval whose
    bucket count fits the target wins (min/max resolve in ONE
    single-row aggregate), then the request runs as the EXACT gap-
    filled date_histogram (ES returns the contiguous sequence) with
    the chosen interval label as a constant column. Controlled spans
    pin each ladder family (fixed seconds, calendar month, the
    internal 5y+ multiple-year floor); docs-corpus run is indexed-
    identical; sub-metrics and pipelines compose; validation fails
    loud."""
    import datetime as dt

    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    # 90-second span, target 10 -> 10s buckets, epoch-anchored
    f1 = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 8, 0, 0, 2) + dt.timedelta(seconds=9 * i))
         for i in range(11)], "id long, ts timestamp")
    g1 = dsl_aggregate(f1, {"aggs": {"d": {
        "auto_date_histogram": {"field": "ts"}}}}).toPandas()
    assert (g1["interval"] == "10s").all()
    assert len(g1) == 10 and g1["doc_count"].sum() == 11
    assert g1["key"].iloc[0] == dt.datetime(2024, 1, 8)  # floor of :02

    # 14-month span, target 10 -> quarter (3M); contiguous incl. empty
    f2 = spark.createDataFrame(
        [(0, dt.datetime(2023, 2, 10)), (1, dt.datetime(2024, 4, 20))],
        "id long, ts timestamp")
    g2 = dsl_aggregate(f2, {"aggs": {"d": {
        "auto_date_histogram": {"field": "ts"}}}}).toPandas()
    assert (g2["interval"] == "3M").all()
    assert g2["key"].tolist() == [
        dt.datetime(2023, 1, 1), dt.datetime(2023, 4, 1),
        dt.datetime(2023, 7, 1), dt.datetime(2023, 10, 1),
        dt.datetime(2024, 1, 1), dt.datetime(2024, 4, 1)]
    assert g2["doc_count"].tolist() == [1, 0, 0, 0, 0, 1]

    # 15-year span, target 5 -> the internal 5y floor, 1970-anchored,
    # gap-filled; a metric sub-agg and a normalize pipeline ride along
    f3 = spark.createDataFrame(
        [(4, dt.datetime(2001, 3, 1)), (8, dt.datetime(2002, 1, 1)),
         (13, dt.datetime(2016, 6, 5))], "id long, ts timestamp")
    g3 = dsl_aggregate(f3, {"aggs": {"d": {
        "auto_date_histogram": {"field": "ts", "buckets": 5},
        "aggs": {"m": {"avg": {"field": "id"}},
                 "p": {"normalize": {"buckets_path": "_count",
                                     "method": "percent_of_sum"}}}}}}
    ).toPandas()
    assert (g3["interval"] == "5y").all()
    assert g3["key"].tolist() == [
        dt.datetime(2000, 1, 1), dt.datetime(2005, 1, 1),
        dt.datetime(2010, 1, 1), dt.datetime(2015, 1, 1)]
    assert g3["doc_count"].tolist() == [2, 0, 0, 1]
    assert g3["m"].iloc[0] == 6.0 and pd.isna(g3["m"].iloc[1])
    np.testing.assert_allclose(g3["p"], [2 / 3, 0, 0, 1 / 3])

    # single distinct value -> one bucket at the smallest allowed
    # interval; minimum_interval trims the ladder's small end
    f4 = spark.createDataFrame([(0, dt.datetime(2024, 1, 8, 3, 4, 5))],
                               "id long, ts timestamp")
    g4 = dsl_aggregate(f4, {"aggs": {"d": {
        "auto_date_histogram": {"field": "ts"}}}}).toPandas()
    assert g4["interval"].iloc[0] == "1s" and len(g4) == 1
    g4m = dsl_aggregate(f4, {"aggs": {"d": {"auto_date_histogram": {
        "field": "ts", "minimum_interval": "month"}}}}).toPandas()
    assert g4m["interval"].iloc[0] == "1M"
    assert g4m["key"].iloc[0] == dt.datetime(2024, 1, 1)

    # empty qualifying set -> zero rows, schema intact
    g5 = dsl_aggregate(f4, {
        "query": {"term": {"id": 999}},
        "aggs": {"d": {"auto_date_histogram": {"field": "ts"}}}}
    ).toPandas()
    assert len(g5) == 0 and "interval" in g5.columns

    # docs corpus: engine == indexed executor, and the label matches a
    # python replay of the ladder choice on the corpus bounds
    req = {"aggs": {"d": {"auto_date_histogram": {
        "field": "ts", "buckets": 12}}}}
    gd = dsl_aggregate(docs, req).toPandas()
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(gi, gd)
    lo = docs_pdf["ts"].min().to_pydatetime()
    hi = docs_pdf["ts"].max().to_pydatetime()
    elo = int(lo.replace(tzinfo=dt.timezone.utc).timestamp())
    ehi = int(hi.replace(tzinfo=dt.timezone.utc).timestamp())
    for secs, label in [(1, "1s"), (5, "5s"), (10, "10s"), (30, "30s"),
                        (60, "1m"), (300, "5m"), (600, "10m"),
                        (1800, "30m"), (3600, "1h"), (10800, "3h"),
                        (43200, "12h"), (86400, "1d"), (604800, "7d")]:
        if ehi // secs - elo // secs + 1 <= 12:
            break
    assert gd["interval"].iloc[0] == label
    assert gd["doc_count"].sum() == len(docs_pdf)

    for bad, msg in [
        ({"field": "ts", "interval": "day"},
         "unsupported auto_date_histogram options"),
        ({"field": "ts", "time_zone": "UTC"},
         "unsupported auto_date_histogram options"),
        ({"field": "ts", "buckets": 0}, "buckets"),
        ({"field": "ts", "minimum_interval": "week"},
         "bad minimum_interval"),
        ({"buckets": 10}, "needs a field"),
    ]:
        with pytest.raises(DslError, match=msg):
            dsl_aggregate(docs, {"aggs": {"d": {
                "auto_date_histogram": bad}}}).collect()
    # a metric named `interval` collides with the label column
    with pytest.raises(DslError, match="interval"):
        dsl_aggregate(f4, {"aggs": {"d": {
            "auto_date_histogram": {"field": "ts"},
            "aggs": {"interval": {"avg": {"field": "id"}}}}}}).collect()


def test_normalize_pipeline(spark, docs, docs_pdf, dsl_index):
    """ES `normalize` (7.9+): per-bucket value rescaled by bucket-list
    statistics — all six ES methods against a duckdb window replay;
    zero denominators -> NULL (the ES non-finite rendering); `format`
    is a documented safe no-op; terms parents / unknown methods /
    unknown options fail loud; indexed identity."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"m": {"avg": {"field": "turn_idx"}},
                 "pos": {"normalize": {"buckets_path": "_count",
                                       "method": "percent_of_sum",
                                       "format": "00.0%"}},
                 "r01": {"normalize": {"buckets_path": "m",
                                       "method": "rescale_0_1"}},
                 "r100": {"normalize": {"buckets_path": "m",
                                        "method": "rescale_0_100"}},
                 "mn": {"normalize": {"buckets_path": "m",
                                      "method": "mean"}},
                 "zs": {"normalize": {"buckets_path": "m",
                                      "method": "z-score"}},
                 "sm": {"normalize": {"buckets_path": "pos",
                                      "method": "softmax"}}}}}}
    got = dsl_aggregate(docs, req).toPandas()

    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        WITH b AS (
          SELECT date_trunc('day', ts) AS key, count(*)::DOUBLE AS c,
                 avg(turn_idx) AS m
          FROM t GROUP BY 1),
        p AS (SELECT key, c / sum(c) OVER () AS pos, m FROM b)
        SELECT key,
               pos,
               (m - min(m) OVER ()) / nullif(max(m) OVER ()
                 - min(m) OVER (), 0) AS r01,
               100 * (m - min(m) OVER ()) / nullif(max(m) OVER ()
                 - min(m) OVER (), 0) AS r100,
               (m - avg(m) OVER ()) / nullif(max(m) OVER ()
                 - min(m) OVER (), 0) AS mn,
               (m - avg(m) OVER ()) / nullif(stddev_pop(m) OVER (), 0)
                 AS zs,
               exp(pos) / sum(exp(pos)) OVER () AS sm
        FROM p ORDER BY key""").df()
    assert len(got) == len(want) > 1
    for c in ("pos", "r01", "r100", "mn", "zs", "sm"):
        np.testing.assert_allclose(got[c], want[c], rtol=1e-9,
                                   err_msg=c)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(gi, got)

    # single-bucket frame: zero range/stddev -> NULL (ES renders the
    # non-finite result null); percent_of_sum of one bucket is 1.0
    one = dsl_aggregate(docs, {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "year"},
        "aggs": {"m": {"avg": {"field": "turn_idx"}},
                 "z": {"normalize": {"buckets_path": "m",
                                     "method": "z-score"}},
                 "r": {"normalize": {"buckets_path": "m",
                                     "method": "rescale_0_1"}},
                 "p": {"normalize": {"buckets_path": "m",
                                     "method": "percent_of_sum"}}}}}}
    ).toPandas()
    assert len(one) == 1
    assert one["z"].isna().all() and one["r"].isna().all()
    assert one["p"].iloc[0] == pytest.approx(1.0)

    def agg(norm_body, parent=None):
        parent = parent or {"date_histogram": {
            "field": "ts", "calendar_interval": "day"}}
        return {"aggs": {"a": {**parent,
                               "aggs": {"n": {"normalize": norm_body}}}}}

    for bad, msg in [
        (agg({"buckets_path": "_count", "method": "percent_of_sum"},
             parent={"terms": {"field": "role"}}),
         "histogram-family parent"),
        (agg({"buckets_path": "_count", "method": "minmax"}),
         "unsupported normalize method"),
        (agg({"buckets_path": "_count"}),
         "unsupported normalize method"),
        (agg({"buckets_path": "_count", "method": "softmax",
              "gap_policy": "skip"}),
         "unsupported normalize options"),
    ]:
        with pytest.raises(DslError, match=msg):
            dsl_aggregate(docs, bad).collect()


def test_moving_fn_pipeline(spark, docs, docs_pdf, dsl_index):
    """ES `moving_fn` (round 5, resumed closing): the five stock
    MovingFunctions scripts over the ES row frame [i-window+shift,
    i-1+shift] — shift 0 excludes the current bucket (the ES default),
    shift 1 includes it; empty windows follow Lucene's fold identities
    through ES's non-finite-to-null rendering (sum -> 0.0, the rest
    null); stdDev is population. Oracle = duckdb window replay; runs
    AFTER mdc-0 gap filling; both executors; painless lambdas beyond
    the stock scripts and gap_policy fail loud."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {"wk": {
        "date_histogram": {"field": "ts", "calendar_interval": "week"},
        "aggs": {
            "av": {"avg": {"field": "turn_idx"}},
            "m_avg": {"moving_fn": {
                "buckets_path": "_count", "window": 3,
                "script": "MovingFunctions.unweightedAvg(values)"}},
            "m_max": {"moving_fn": {
                "buckets_path": "av", "window": 2, "shift": 1,
                "script": "MovingFunctions.max(values)"}},
            "m_sum": {"moving_fn": {
                "buckets_path": "_count", "window": 3,
                "script": "MovingFunctions.sum(values)"}},
            "m_std": {"moving_fn": {
                "buckets_path": "_count", "window": 4, "shift": 1,
                "script": "MovingFunctions.stdDev(values, "
                          "MovingFunctions.unweightedAvg(values))"}},
        }}}}
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        WITH b AS (
          SELECT date_trunc('week', ts) AS key, count(*) AS c,
                 avg(turn_idx) AS av
          FROM t GROUP BY 1)
        SELECT key, c, av,
               avg(c) OVER (ORDER BY key
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS m_avg,
               max(av) OVER (ORDER BY key
                 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS m_max,
               coalesce(sum(c) OVER (ORDER BY key
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0)
                 AS m_sum,
               stddev_pop(c) OVER (ORDER BY key
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m_std
        FROM b ORDER BY key
    """).df()
    assert len(got) == len(want) > 2
    # first bucket: shift-0 windows are empty -> avg null, sum 0.0
    assert pd.isna(got["m_avg"].iloc[0])
    assert got["m_sum"].iloc[0] == 0.0
    for c in ("m_avg", "m_max", "m_sum", "m_std"):
        np.testing.assert_allclose(
            got[c].astype(float), want[c].astype(float), rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.sort_values("key").reset_index(drop=True))

    # runs AFTER mdc-0 gap filling: zero-count days contribute 0s
    reqg = {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day",
                           "min_doc_count": 0},
        "aggs": {"m": {"moving_fn": {
            "buckets_path": "_count", "window": 7, "shift": 1,
            "script": "MovingFunctions.min(values)"}}}}}}
    gg = dsl_aggregate(docs, reqg).toPandas().sort_values("key")
    zero_days = (gg["doc_count"] == 0).to_numpy()
    assert zero_days.any()  # the fixture has gaps
    # any 7-day window touching a zero day has min 0
    assert (gg["m"].to_numpy()[np.flatnonzero(zero_days)] == 0).all()

    # fail loud: lambdas beyond the stock scripts, bad window/shift,
    # gap_policy, terms parent
    for bad in (
        {"buckets_path": "_count", "window": 3,
         "script": "MovingFunctions.linearWeightedAvg(values)"},
        {"buckets_path": "_count", "window": 3,
         "script": "values.stream().max()"},
        {"buckets_path": "_count",
         "script": "MovingFunctions.sum(values)"},
        {"buckets_path": "_count", "window": 0,
         "script": "MovingFunctions.sum(values)"},
        {"buckets_path": "_count", "window": 3, "shift": "1",
         "script": "MovingFunctions.sum(values)"},
        {"buckets_path": "_count", "window": 3, "gap_policy": "skip",
         "script": "MovingFunctions.sum(values)"},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": {"wk": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "week"},
                "aggs": {"m": {"moving_fn": bad}}}}})
    with pytest.raises(DslError, match="histogram-family parent"):
        dsl_aggregate(docs, {"aggs": {"a": {
            "terms": {"field": "role"},
            "aggs": {"m": {"moving_fn": {
                "buckets_path": "_count", "window": 3,
                "script": "MovingFunctions.sum(values)"}}}}}})


def test_boxplot_mad_string_stats(spark, docs, docs_pdf, dsl_index):
    """Round-5 resumed-closing metrics: `boxplot` (EXACT interpolated
    min/q1/q2/q3/max vs ES TDigest, bare + bucketed, whiskers out of
    grammar), `median_absolute_deviation` (EXACT median(|x - median|),
    bare via a broadcast two-stage plan, bucketed via a co-partitioned
    window median), and `string_stats` (length stats + Shannon base-2
    character entropy, computed from an alphabet-sized char-count
    frame). Oracles = duckdb quantile_cont / entropy-formula replays;
    indexed identity; option allowlists fail loud."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    con = duckdb.connect()
    con.register("t", docs_pdf)

    # boxplot: bare
    got = dsl_aggregate(docs, {"aggs": {"b": {
        "boxplot": {"field": "turn_idx"}}}}).toPandas()
    want = con.sql("""
        SELECT quantile_cont(turn_idx, 0.00) AS b_min,
               quantile_cont(turn_idx, 0.25) AS b_q1,
               quantile_cont(turn_idx, 0.50) AS b_q2,
               quantile_cont(turn_idx, 0.75) AS b_q3,
               quantile_cont(turn_idx, 1.00) AS b_max
        FROM t""").df()
    for c in want.columns:
        np.testing.assert_allclose(got[c], want[c], rtol=1e-12,
                                   err_msg=c)
    # boxplot: inside a terms bucket, indexed identity
    reqb = {"aggs": {"r": {"terms": {"field": "role"},
                           "aggs": {"b": {"boxplot": {
                               "field": "turn_idx"}}}}}}
    gb = dsl_aggregate(docs, reqb).toPandas()
    wb = con.sql("""
        SELECT role AS key, quantile_cont(turn_idx, 0.5) AS b_q2
        FROM t WHERE role IS NOT NULL GROUP BY 1""").df()
    m = gb.merge(wb, on="key", suffixes=("", "_w"))
    np.testing.assert_allclose(m["b_q2"], m["b_q2_w"], rtol=1e-12)
    gib = dsl_aggregate_indexed(spark, dsl_index, reqb).toPandas()
    pd.testing.assert_frame_equal(
        gib.sort_values("key").reset_index(drop=True),
        gb.sort_values("key").reset_index(drop=True))

    # median_absolute_deviation: bare
    gm = dsl_aggregate(docs, {"aggs": {"mad": {
        "median_absolute_deviation": {"field": "turn_idx"}}}}
    ).toPandas()
    wm = con.sql("""
        SELECT quantile_cont(abs(turn_idx -
                 (SELECT quantile_cont(turn_idx, 0.5) FROM t)), 0.5)
          AS mad FROM t""").df()
    np.testing.assert_allclose(gm["mad"], wm["mad"], rtol=1e-12)
    # bucketed: per-role window median, indexed identity
    reqm = {"aggs": {"r": {"terms": {"field": "role"},
                           "aggs": {"mad": {"median_absolute_deviation":
                                            {"field": "turn_idx"}}}}}}
    gm2 = dsl_aggregate(docs, reqm).toPandas()
    wm2 = con.sql("""
        WITH med AS (
          SELECT role, quantile_cont(turn_idx, 0.5) AS m
          FROM t WHERE role IS NOT NULL GROUP BY 1)
        SELECT t.role AS key,
               quantile_cont(abs(t.turn_idx - med.m), 0.5) AS mad
        FROM t JOIN med USING (role) GROUP BY 1""").df()
    mm = gm2.merge(wm2, on="key", suffixes=("", "_w"))
    assert len(mm) == len(gm2) > 1
    np.testing.assert_allclose(mm["mad"], mm["mad_w"], rtol=1e-12)
    gim = dsl_aggregate_indexed(spark, dsl_index, reqm).toPandas()
    pd.testing.assert_frame_equal(
        gim.sort_values("key").reset_index(drop=True),
        gm2.sort_values("key").reset_index(drop=True))

    # string_stats on the text field (naive; text is not in doc_stats)
    gs = dsl_aggregate(docs, {"aggs": {"s": {
        "string_stats": {"field": "text"}}}}).toPandas()
    ws = con.sql("""
        WITH v AS (SELECT text AS s FROM t WHERE text IS NOT NULL),
        n AS (SELECT count(*) AS cnt
              FROM (SELECT unnest(string_split(s, '')) AS ch FROM v)
              GROUP BY ch)
        SELECT (SELECT count(*) FROM v) AS s_count,
               (SELECT min(length(s)) FROM v) AS s_min_length,
               (SELECT max(length(s)) FROM v) AS s_max_length,
               (SELECT avg(length(s)) FROM v) AS s_avg_length,
               -sum(cnt * log2(cnt)) / sum(cnt) + log2(sum(cnt))
                 AS s_entropy
        FROM n""").df()
    for c in ("s_count", "s_min_length", "s_max_length"):
        assert int(gs[c].iloc[0]) == int(ws[c].iloc[0]), c
    for c in ("s_avg_length", "s_entropy"):
        np.testing.assert_allclose(gs[c], ws[c], rtol=1e-12, err_msg=c)
    assert gs["s_entropy"].iloc[0] > 1.0  # real text, many symbols
    # string_stats through the indexed executor on a persisted column
    gsi = dsl_aggregate_indexed(spark, dsl_index, {"aggs": {"s": {
        "string_stats": {"field": "conv_id"}}}}).toPandas()
    gsn = dsl_aggregate(docs, {"aggs": {"s": {
        "string_stats": {"field": "conv_id"}}}}).toPandas()
    pd.testing.assert_frame_equal(gsi, gsn)

    # fail loud: whiskers/compression knobs, show_distribution,
    # MAD beyond a single-level bucket
    for bad in (
        {"aggs": {"b": {"boxplot": {"field": "turn_idx",
                                    "compression": 200}}}},
        {"aggs": {"s": {"string_stats": {"field": "text",
                                         "show_distribution": True}}}},
        {"aggs": {"r": {"terms": {"field": "role"},
                        "aggs": {"h": {"histogram": {
                            "field": "turn_idx", "interval": 10},
                            "aggs": {"mad": {
                                "median_absolute_deviation": {
                                    "field": "turn_idx"}}}}}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, bad)


def test_scripted_agg_sources(spark, docs, docs_pdf, dsl_index):
    """Aggregation `script` sources (round 5): metric bodies and terms
    bucket keys take a painless-subset script compiled to ONE Catalyst
    expression (doc values, params as literals; _score fails loud —
    aggs run over the qualifying set). Oracle = duckdb arithmetic
    replay; indexed == naive; field+script / missing-with-script /
    non-painless fail loud."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    con = duckdb.connect()
    con.register("t", docs_pdf)
    # bare scripted metric
    req = {"aggs": {"a": {"avg": {"script": {
        "source": "doc['turn_idx'].value * params.m + 1",
        "params": {"m": 3}}}}}}
    got = dsl_aggregate(docs, req).toPandas()
    want = con.sql("SELECT avg(turn_idx * 3.0 + 1) AS a FROM t").df()
    np.testing.assert_allclose(got["a"], want["a"], rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(gi, got)
    # scripted metric under a terms bucket
    reqb = {"aggs": {"r": {"terms": {"field": "role"},
                           "aggs": {"m": {"max": {
                               "script": "doc['turn_idx'].value * 2"}}}}}}
    gb = dsl_aggregate(docs, reqb).toPandas()
    wb = con.sql("""SELECT role AS key, max(turn_idx * 2.0) AS m
                    FROM t WHERE role IS NOT NULL GROUP BY 1""").df()
    mm = gb.merge(wb, on="key", suffixes=("", "_w"))
    assert len(mm) == len(gb) > 1
    np.testing.assert_allclose(mm["m"], mm["m_w"], rtol=1e-12)
    gib = dsl_aggregate_indexed(spark, dsl_index, reqb).toPandas()
    pd.testing.assert_frame_equal(
        gib.sort_values("key").reset_index(drop=True),
        gb.sort_values("key").reset_index(drop=True))
    # scripted terms bucket key (integer-valued arithmetic)
    reqk = {"aggs": {"b": {"terms": {
        "script": "doc['turn_idx'].value * 10", "size": 4},
        "aggs": {"c": {"value_count": {"field": "turn_idx"}}}}}}
    gk = dsl_aggregate(docs, reqk).toPandas()
    wk = con.sql("""SELECT turn_idx * 10.0 AS key, count(*) AS doc_count
                    FROM t GROUP BY 1 ORDER BY doc_count DESC, key
                    LIMIT 4""").df()
    np.testing.assert_allclose(gk["key"], wk["key"])
    assert gk["doc_count"].tolist() == wk["doc_count"].tolist()
    gki = dsl_aggregate_indexed(spark, dsl_index, reqk).toPandas()
    pd.testing.assert_frame_equal(gki, gk)
    # fail loud
    for bad in (
        {"avg": {"field": "turn_idx", "script": "1"}},
        {"avg": {}},
        {"avg": {"script": "_score + 1"}},
        {"avg": {"script": {"source": "1", "lang": "js"}}},
        {"avg": {"script": "1", "missing": 0}},
        {"sum": {"script": {"source": "doc['x'].value",
                            "id": "stored"}}},
        {"terms": {"script": "doc['turn_idx'].value", "missing": 0}},
        {"terms": {"script": "doc['turn_idx'].value",
                   "include": ["1"]}},
        {"terms": {"field": "role", "script": "1"}},
        {"terms": {}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": {"x": bad}}).collect()


def test_agg_script_reads_field_ending_in_score(spark, docs,
                                                tmp_path_factory):
    """Only a standalone `_score` is rejected in an agg script: a field
    whose name ends in it (`doc['quality_score'].value`) compiles, and
    both executors answer it (quality_score persists in doc_stats)."""
    from prow_jobs_scraper_spark.operators.textqc import quality_score
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    qdocs = quality_score(docs).select(*docs.columns,
                                       "quality_score").cache()
    idx = str(tmp_path_factory.mktemp("qscore_idx"))
    build_index(spark, qdocs, idx, BuildConfig(n_ranges=4, n_buckets=2))
    req = {"query": {"match": {"text": "spark"}},
           "aggs": {"q": {"avg": {"script": {
               "source": "doc['quality_score'].value * params.m",
               "params": {"m": 100}}}}}}
    got = dsl_aggregate(qdocs, req).toPandas()
    pdf = qdocs.toPandas()
    hit = tokenize_pandas(pdf["text"]).map(lambda ts: "spark" in ts)
    assert hit.sum() > 0
    np.testing.assert_allclose(
        got["q"], [(pdf.loc[hit, "quality_score"] * 100).mean()],
        rtol=1e-12)
    pd.testing.assert_frame_equal(
        dsl_aggregate_indexed(spark, idx, req).toPandas(), got)
    bad = {"aggs": {"q": {"avg": {"script": "_score * 2"}}}}
    with pytest.raises(DslError, match="_score"):
        dsl_aggregate(qdocs, bad)
    with pytest.raises(DslError, match="_score"):
        dsl_aggregate_indexed(spark, idx, bad)


def test_matrix_stats(spark, docs, docs_pdf, dsl_index):
    """ES `matrix_stats` (the matrix aggregations module): one row per
    ordered field pair with count/mean/sample variance/skewness
    (m3/m2^1.5)/Pearson kurtosis (m4/m2^2)/sample covariance/sample
    correlation. Oracle = duckdb closed-form raw-moment replay; the ES
    exclusion rule (a doc missing ANY field leaves the whole matrix
    unless `missing` fills it) is value-checked; indexed identity on a
    doc_stats field; unknown options fail loud."""
    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    d2 = docs.withColumns({
        "ti2": (F.col("turn_idx") * 7) % 13,
        "gap": F.when(F.col("turn_idx") % 5 == 0, None)
        .otherwise(F.col("turn_idx") % 17),
    })
    con = duckdb.connect()
    con.register("t0", docs_pdf)
    con.execute("""CREATE VIEW t AS SELECT *, (turn_idx * 7) % 13 AS ti2,
        CASE WHEN turn_idx % 5 = 0 THEN NULL ELSE turn_idx % 17 END AS gap
        FROM t0""")

    def _pairs_sql(fields, fill=None, where="TRUE"):
        cols = {f: (f"coalesce({f}, {fill[f]})"
                    if fill and f in fill else f) for f in fields}
        notnull = " AND ".join(f"{c} IS NOT NULL"
                               for c in cols.values())
        rows = []
        for fi in fields:
            for fj in fields:
                x, y = cols[fi], cols[fj]
                rows.append(f"""
        SELECT '{fi}' AS field, '{fj}' AS other,
          count(*) AS doc_count, avg({x}) AS mean,
          (avg(({x})*({x})) - avg({x})*avg({x}))
            * count(*)::DOUBLE / (count(*) - 1) AS variance,
          (avg(({x})*({x})*({x})) - 3*avg({x})*avg(({x})*({x}))
             + 2*avg({x})*avg({x})*avg({x}))
          / pow(avg(({x})*({x})) - avg({x})*avg({x}), 1.5) AS skewness,
          (avg(({x})*({x})*({x})*({x})) - 4*avg({x})*avg(({x})*({x})*({x}))
             + 6*avg({x})*avg({x})*avg(({x})*({x}))
             - 3*avg({x})*avg({x})*avg({x})*avg({x}))
          / pow(avg(({x})*({x})) - avg({x})*avg({x}), 2) AS kurtosis,
          (avg(({x})*({y})) - avg({x})*avg({y}))
            * count(*)::DOUBLE / (count(*) - 1) AS covariance,
          (avg(({x})*({y})) - avg({x})*avg({y}))
          / sqrt((avg(({x})*({x})) - avg({x})*avg({x}))
                 * (avg(({y})*({y})) - avg({y})*avg({y})))
            AS correlation
        FROM t WHERE {where} AND {notnull}""")
        return (" UNION ALL ".join(rows)
                + " ORDER BY field, other")

    fields = ["turn_idx", "ti2", "gap"]
    # with the missing fill: every doc participates
    got = dsl_aggregate(d2, {"aggs": {"m": {"matrix_stats": {
        "fields": fields, "missing": {"gap": 8}}}}}).toPandas()
    want = con.sql(_pairs_sql(fields, fill={"gap": 8})).df()
    assert got["doc_count"].nunique() == 1
    assert int(got["doc_count"].iloc[0]) == len(docs_pdf)
    for c in ("mean", "variance", "skewness", "kurtosis", "covariance",
              "correlation"):
        np.testing.assert_allclose(got[c], want[c], rtol=1e-9,
                                   err_msg=c)
    diag = got[got["field"] == got["other"]]
    np.testing.assert_allclose(diag["correlation"], 1.0, rtol=1e-12)
    np.testing.assert_allclose(diag["variance"], diag["covariance"])
    # WITHOUT the fill: the ES exclusion rule — docs missing gap leave
    # the whole matrix, shrinking doc_count and shifting turn_idx stats
    got2 = dsl_aggregate(d2, {"aggs": {"m": {"matrix_stats": {
        "fields": fields}}}}).toPandas()
    want2 = con.sql(_pairs_sql(fields)).df()
    assert int(got2["doc_count"].iloc[0]) == int(want2["doc_count"].iloc[0])
    assert int(got2["doc_count"].iloc[0]) < len(docs_pdf)
    for c in ("mean", "variance", "covariance", "correlation"):
        np.testing.assert_allclose(got2[c], want2[c], rtol=1e-9,
                                   err_msg=c)
    # under a real query (the qualifying set, not the corpus)
    req = {"query": {"match": {"text": "spark"}},
           "aggs": {"m": {"matrix_stats": {"fields": ["turn_idx"]}}}}
    g3 = dsl_aggregate(d2, req).toPandas()
    assert 0 < int(g3["doc_count"].iloc[0]) < len(docs_pdf)
    # indexed identity on a doc_stats-persisted field
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    gn = dsl_aggregate(docs, req).toPandas()
    pd.testing.assert_frame_equal(gi, gn)
    # fail loud
    for bad in (
        {"fields": []},
        {"fields": "turn_idx"},
        {"fields": ["turn_idx", "turn_idx"]},
        {"fields": ["turn_idx"], "mode": "avg"},
        {"fields": ["turn_idx"], "missing": {"zz": 1}},
        {"fields": ["turn_idx"], "missing": {"turn_idx": True}},
        {"fields": ["nope"]},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(d2, {"aggs": {"m": {
                "matrix_stats": bad}}}).collect()
    with pytest.raises(DslError):  # sub-aggs out of grammar
        dsl_aggregate(d2, {"aggs": {"m": {
            "matrix_stats": {"fields": ["turn_idx"]},
            "aggs": {"a": {"avg": {"field": "turn_idx"}}}}}}).collect()



def test_matrix_stats_constant_field(spark, transcripts, tmp_path):
    """A constant non-integer field (3.3 on every doc) has variance 0,
    covariance 0 against every field, skewness/kurtosis 0 and a NULL
    correlation — on both executors. The raw-moment difference
    E[x²]−E[x]² leaves ulp noise (≈−4e−15 here), which used to read as a
    nonzero variance, a ±1/NaN diagonal correlation and garbage
    moments."""
    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    seven = (transcripts.orderBy("conv_id", "turn_idx").limit(7)
             .withColumn("c", F.lit(3.3)))
    d = str(tmp_path / "const_idx")
    build_index(spark, seven, d, BuildConfig(n_ranges=1, n_buckets=1))
    req = {"aggs": {"m": {"matrix_stats": {"fields": ["c", "turn_idx"]}}}}
    naive = dsl_aggregate(with_doc_ids(seven), req).toPandas()
    indexed = dsl_aggregate_indexed(spark, d, req).toPandas()
    pd.testing.assert_frame_equal(indexed, naive)
    turns = seven.select("turn_idx").toPandas()["turn_idx"]
    assert turns.nunique() > 1  # the other field really varies
    for got in (naive, indexed):
        assert (got["doc_count"] == 7).all()
        c = got[got["field"] == "c"]
        np.testing.assert_allclose(c["mean"], 3.3, rtol=1e-15)
        assert (c["variance"] == 0.0).all()
        assert (c["skewness"] == 0.0).all()
        assert (c["kurtosis"] == 0.0).all()
        with_c = got[(got["field"] == "c") | (got["other"] == "c")]
        assert (with_c["covariance"] == 0.0).all()
        assert with_c["correlation"].isna().all()
        t = got[(got["field"] == "turn_idx") & (got["other"] == "turn_idx")]
        np.testing.assert_allclose(t["variance"], turns.var(), rtol=1e-12)
        np.testing.assert_allclose(t["correlation"], 1.0, rtol=1e-12)


def test_top_metrics(spark, docs, docs_pdf, dsl_index):
    """ES `top_metrics` (size 1): the winning document's metric values
    by sort, flattened to `<name>_<field>` columns, bare and inside
    every bucket context via _metric_cols. The engine's sort-tie
    break is the metric tuple itself (one struct-ordered max/min —
    deterministic where ES is shard-order-arbitrary), which the pandas
    oracle replays as a lexicographic sort_values. NULL-sort docs
    never compete. Indexed identity; option allowlist fails loud."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    # bare, sort desc, two metrics — both columns from the SAME doc
    got = dsl_aggregate(docs, {"aggs": {"t": {"top_metrics": {
        "metrics": [{"field": "turn_idx"}, {"field": "conv_id"}],
        "sort": {"ts": "desc"}}}}}).toPandas()
    want = (docs_pdf.dropna(subset=["ts"])
            .sort_values(["ts", "turn_idx", "conv_id"], ascending=False)
            .iloc[0])
    assert got["t_turn_idx"].iloc[0] == want["turn_idx"]
    assert got["t_conv_id"].iloc[0] == want["conv_id"]

    # bucketed under terms(role), bare-string sort form (asc), single
    # dict metrics form; indexed identity
    req = {"aggs": {"r": {"terms": {"field": "role"},
                          "aggs": {"t": {"top_metrics": {
                              "metrics": {"field": "turn_idx"},
                              "sort": "ts", "size": 1}}}}}}
    gb = dsl_aggregate(docs, req).toPandas()
    wb = (docs_pdf.dropna(subset=["role", "ts"])
          .sort_values(["ts", "turn_idx"])
          .groupby("role").first()["turn_idx"])
    for _, row in gb.iterrows():
        assert row["t_turn_idx"] == wb[row["key"]], row["key"]
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        gb.sort_values("key").reset_index(drop=True))

    # NULL-sort exclusion: sorting on `tool` (has NULLs) skips the
    # NULL-tool docs entirely
    gn = dsl_aggregate(docs, {"aggs": {"t": {"top_metrics": {
        "metrics": [{"field": "doc_id"}],
        "sort": {"tool": "asc"}}}}}).toPandas()
    wn = (docs_pdf.dropna(subset=["tool"])
          .sort_values(["tool", "doc_id"]).iloc[0])
    assert gn["t_doc_id"].iloc[0] == wn["doc_id"]

    # fail loud: size != 1, unknown option, dup fields, multi-key
    # sort, underscore sort, bad metrics shape
    for bad in (
        {"metrics": [{"field": "turn_idx"}], "sort": {"ts": "desc"},
         "size": 3},
        {"metrics": [{"field": "turn_idx"}], "sort": {"ts": "desc"},
         "from": 1},
        {"metrics": [{"field": "turn_idx"}, {"field": "turn_idx"}],
         "sort": {"ts": "desc"}},
        {"metrics": [{"field": "turn_idx"}],
         "sort": {"ts": "desc", "turn_idx": "asc"}},
        {"metrics": [{"field": "turn_idx"}], "sort": {"_score": "desc"}},
        {"metrics": [], "sort": {"ts": "desc"}},
        {"metrics": [{"field": "turn_idx", "missing": 0}],
         "sort": {"ts": "desc"}},
        {"metrics": [{"field": "turn_idx"}]},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": {"t": {"top_metrics": bad}}})


def test_cumulative_cardinality_pipeline(spark, docs, docs_pdf,
                                         dsl_index):
    """ES `cumulative_cardinality` (round 5, resumed closing): running
    distinct count of the referenced cardinality agg's field across
    the bucket sequence — ES merges HLL sketches (approximate), the
    engine is EXACT via first-occurrence counts (each value charges
    the first surviving bucket it appears in). Oracle = duckdb
    first-occurrence replay; min_doc_count-pruned buckets are excluded
    BEFORE first occurrences resolve (ES merges only response
    buckets); must reference a cardinality sub-agg; both executors."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {"wk": {
        "date_histogram": {"field": "ts", "calendar_interval": "week"},
        "aggs": {"card": {"cardinality": {"field": "conv_id"}},
                 "cc": {"cumulative_cardinality": {
                     "buckets_path": "card"}}}}}}
    got = dsl_aggregate(docs, req).toPandas().sort_values("key")
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        WITH b AS (
          SELECT date_trunc('week', ts) AS key, count(*) AS doc_count,
                 count(DISTINCT conv_id) AS card
          FROM t GROUP BY 1),
        n AS (
          SELECT key, count(*) AS newc FROM (
            SELECT min(date_trunc('week', ts)) AS key
            FROM t WHERE conv_id IS NOT NULL GROUP BY conv_id)
          GROUP BY 1)
        SELECT b.key, b.doc_count, b.card,
               sum(coalesce(n.newc, 0)) OVER (ORDER BY b.key) AS cc
        FROM b LEFT JOIN n USING (key) ORDER BY b.key
    """).df()
    assert len(got) == len(want) > 1
    assert got["cc"].tolist() == want["cc"].astype(int).tolist()
    assert got["cc"].is_monotonic_increasing
    assert got["cc"].iloc[-1] == docs_pdf["conv_id"].nunique()
    # running distinct >= the per-bucket distinct everywhere
    assert (got["cc"] >= got["card"]).all()
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.reset_index(drop=True))

    # min_doc_count pruning: values first seen in a PRUNED bucket
    # charge their first SURVIVING bucket (the response-merge rule)
    reqp = {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day",
                           "min_doc_count": 5},
        "aggs": {"card": {"cardinality": {"field": "conv_id"}},
                 "cc": {"cumulative_cardinality": {
                     "buckets_path": "card"}}}}}}
    gp = dsl_aggregate(docs, reqp).toPandas().sort_values("key")
    wantp = con.sql("""
        WITH b AS (
          SELECT date_trunc('day', ts) AS key, count(*) AS doc_count,
                 count(DISTINCT conv_id) AS card
          FROM t GROUP BY 1 HAVING count(*) >= 5),
        n AS (
          SELECT key, count(*) AS newc FROM (
            SELECT min(date_trunc('day', t.ts)) AS key
            FROM t JOIN b ON date_trunc('day', t.ts) = b.key
            GROUP BY t.conv_id)
          GROUP BY 1)
        SELECT b.key, sum(coalesce(n.newc, 0)) OVER (ORDER BY b.key)
                 AS cc
        FROM b LEFT JOIN n USING (key) ORDER BY b.key
    """).df()
    assert len(gp) == len(wantp) > 1
    assert gp["cc"].tolist() == wantp["cc"].astype(int).tolist()

    # fail loud: non-cardinality target, missing target, terms parent
    for bad in (
        {"aggs": {"a": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "week"},
            "aggs": {"av": {"avg": {"field": "turn_idx"}},
                     "cc": {"cumulative_cardinality": {
                         "buckets_path": "av"}}}}}},
        {"aggs": {"a": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "week"},
            "aggs": {"cc": {"cumulative_cardinality": {
                "buckets_path": "_count"}}}}}},
        {"aggs": {"a": {
            "terms": {"field": "role"},
            "aggs": {"card": {"cardinality": {"field": "conv_id"}},
                     "cc": {"cumulative_cardinality": {
                         "buckets_path": "card"}}}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, bad)


def test_sibling_pipeline_aggs_match_duckdb(spark, docs, docs_pdf,
                                            dsl_index):
    """ES sibling pipelines (avg/max/stats_bucket) next to a terms agg
    WITH a size cut: they aggregate the FINAL bucket list (post-cut),
    flattened as constant columns; oracle = duckdb replay of the cut
    then the second-level aggregate; both executors identical."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {
        "by_tool": {"terms": {"field": "tool", "size": 3},
                    "aggs": {"avg_turn": {"avg": {"field": "turn_idx"}}}},
        "mean_bucket_size": {"avg_bucket": {
            "buckets_path": "by_tool>_count"}},
        "best_avg_turn": {"max_bucket": {
            "buckets_path": "by_tool>avg_turn"}},
        "spread": {"stats_bucket": {"buckets_path": "by_tool>_count"}},
    }}
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        WITH b AS (
          SELECT tool AS key, count(*) AS doc_count,
                 avg(turn_idx) AS avg_turn
          FROM t WHERE tool IS NOT NULL GROUP BY 1
          ORDER BY doc_count DESC, key ASC LIMIT 3)
        SELECT key, doc_count, avg_turn,
               avg(doc_count) OVER () AS mean_bucket_size,
               max(avg_turn) OVER () AS best_avg_turn,
               count(doc_count) OVER () AS spread_count,
               min(doc_count) OVER () AS spread_min,
               max(doc_count) OVER () AS spread_max,
               avg(doc_count) OVER () AS spread_avg,
               sum(doc_count) OVER () AS spread_sum
        FROM b ORDER BY doc_count DESC, key ASC
    """).df()
    assert len(got) == len(want) == 3
    assert got["key"].tolist() == want["key"].tolist()
    for c in ("doc_count", "spread_count", "spread_min", "spread_max",
              "spread_sum"):
        assert got[c].tolist() == want[c].astype(int).tolist(), c
    for c in ("mean_bucket_size", "best_avg_turn", "spread_avg"):
        np.testing.assert_allclose(got[c], want[c], rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.sort_values("key").reset_index(drop=True))


def test_extended_stats_and_percentiles_bucket_siblings(
        spark, docs, docs_pdf, dsl_index):
    """ES extended_stats_bucket / percentiles_bucket siblings (round 5,
    resumed closing): the metric extended_stats' exact column set
    (population variance) and linearly-interpolated percentiles over
    the FINAL bucket list — ES computes percentiles_bucket exactly too
    (sorted in memory, rank p/100*(n-1)), so quantile_cont replays it
    with no TDigest deviation; custom percents; unknown options and
    out-of-range percents fail loud; both executors."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {
        "by_tool": {"terms": {"field": "tool", "size": 6},
                    "aggs": {"av": {"avg": {"field": "turn_idx"}}}},
        "es": {"extended_stats_bucket": {
            "buckets_path": "by_tool>_count"}},
        "pb": {"percentiles_bucket": {
            "buckets_path": "by_tool>av", "percents": [25, 50, 97.5]}},
    }}
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        WITH b AS (
          SELECT tool AS key, count(*) AS doc_count,
                 avg(turn_idx) AS av
          FROM t WHERE tool IS NOT NULL GROUP BY 1
          ORDER BY doc_count DESC, key ASC LIMIT 6)
        SELECT key, doc_count, av,
               count(*) OVER () AS es_count,
               min(doc_count) OVER () AS es_min,
               max(doc_count) OVER () AS es_max,
               avg(doc_count) OVER () AS es_avg,
               sum(doc_count) OVER () AS es_sum,
               sum(doc_count * doc_count) OVER ()
                 AS es_sum_of_squares,
               var_pop(doc_count) OVER () AS es_variance,
               stddev_pop(doc_count) OVER () AS es_std_deviation,
               quantile_cont(av, 0.25) OVER () AS pb_p25,
               quantile_cont(av, 0.50) OVER () AS pb_p50,
               quantile_cont(av, 0.975) OVER () AS pb_p97_5
        FROM b ORDER BY doc_count DESC, key ASC
    """).df()
    assert len(got) == len(want) == 6
    assert got["key"].tolist() == want["key"].tolist()
    for c in ("es_count", "es_min", "es_max", "es_sum",
              "es_sum_of_squares"):
        assert got[c].astype(float).tolist() \
            == want[c].astype(float).tolist(), c
    for c in ("es_avg", "es_variance", "es_std_deviation",
              "pb_p25", "pb_p50", "pb_p97_5"):
        np.testing.assert_allclose(got[c], want[c], rtol=1e-12,
                                   err_msg=c)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.sort_values("key").reset_index(drop=True))

    # fail loud: out-of-range percents, unknown options, sigma
    for bad in (
        {"pb": {"percentiles_bucket": {
            "buckets_path": "by_tool>_count", "percents": [0]}}},
        {"pb": {"percentiles_bucket": {
            "buckets_path": "by_tool>_count", "percents": []}}},
        {"pb": {"percentiles_bucket": {
            "buckets_path": "by_tool>_count", "gap_policy": "skip"}}},
        {"es": {"extended_stats_bucket": {
            "buckets_path": "by_tool>_count", "sigma": 3}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": {
                "by_tool": {"terms": {"field": "tool", "size": 6}},
                **bad}})


def test_bucket_sort_matches_duckdb(spark, docs, docs_pdf, dsl_index):
    """ES bucket_sort: re-sort the terms agg's final bucket list by a
    metric path with from/size paging; oracle = duckdb two-level
    ORDER/OFFSET replay; both executors identical; works on terms
    parents (unlike sequence pipelines)."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {"by_tool": {
        "terms": {"field": "tool", "size": 8},
        "aggs": {
            "avg_turn": {"avg": {"field": "turn_idx"}},
            "paged": {"bucket_sort": {
                "sort": [{"avg_turn": "desc"}], "from": 1, "size": 4}},
        }}}}
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        WITH b AS (
          SELECT tool AS key, count(*) AS doc_count,
                 avg(turn_idx) AS avg_turn
          FROM t WHERE tool IS NOT NULL GROUP BY 1
          ORDER BY doc_count DESC, key ASC LIMIT 8)
        SELECT * FROM b
        ORDER BY avg_turn DESC, key ASC LIMIT 4 OFFSET 1
    """).df()
    assert len(got) == len(want) == 4
    assert got["key"].tolist() == want["key"].tolist()
    assert got["doc_count"].tolist() == want["doc_count"].astype(int).tolist()
    np.testing.assert_allclose(got["avg_turn"], want["avg_turn"],
                               rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.sort_values("key").reset_index(drop=True))

    # truncation-only form (no sort): keeps the parent's own order
    req2 = {"aggs": {"by_tool": {
        "terms": {"field": "tool"},
        "aggs": {"pg": {"bucket_sort": {"from": 2, "size": 3}}}}}}
    g2 = dsl_aggregate(docs, req2).toPandas()
    full = dsl_aggregate(docs, {"aggs": {"by_tool": {
        "terms": {"field": "tool"}}}}).toPandas()
    pd.testing.assert_frame_equal(
        g2.reset_index(drop=True),
        full.iloc[2:5].reset_index(drop=True))

    for bad, msg in (
        ({"sort": [{"nope": "desc"}]}, "not a column"),
        ({"sort": [{"avg_turn": "desc"}],
          "gap_policy": "skip"}, "unsupported bucket_sort"),
        ({}, "needs sort"),
        ({"sort": [{"_key": "up"}]}, "direction"),
    ):
        with pytest.raises(DslError, match=msg):
            dsl_aggregate(docs, {"aggs": {"a": {
                "terms": {"field": "tool"},
                "aggs": {"avg_turn": {"avg": {"field": "turn_idx"}},
                         "p": {"bucket_sort": bad}}}}})
    with pytest.raises(DslError, match="at most one bucket_sort"):
        dsl_aggregate(docs, {"aggs": {"a": {
            "terms": {"field": "tool"},
            "aggs": {"p": {"bucket_sort": {"size": 2}},
                     "q": {"bucket_sort": {"size": 3}}}}}})


def test_extended_stats_weighted_avg_adjacency(spark, docs, docs_pdf,
                                               dsl_index):
    """Round-5 metric/bucket closure: extended_stats (population
    variance/std), weighted_avg, serial_diff lag-2, and the
    adjacency_matrix agg — all vs duckdb replays, both executors."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    con = duckdb.connect()
    con.register("t", docs_pdf)

    # extended_stats + weighted_avg inside a terms bucket
    req = {"aggs": {"by_role": {
        "terms": {"field": "role"},
        "aggs": {
            "es": {"extended_stats": {"field": "turn_idx"}},
            "wa": {"weighted_avg": {"value": {"field": "turn_idx"},
                                    "weight": {"field": "n_chars"}}},
        }}}}
    from pyspark.sql import functions as F  # noqa: PLC0415
    got = dsl_aggregate(
        docs.withColumn("n_chars", F.length("text")), req).toPandas()
    want = con.sql("""
        SELECT role AS key, count(*) AS doc_count,
               count(turn_idx) AS es_count, min(turn_idx) AS es_min,
               max(turn_idx) AS es_max, avg(turn_idx) AS es_avg,
               sum(turn_idx) AS es_sum,
               sum(turn_idx::DOUBLE * turn_idx) AS es_sum_of_squares,
               var_pop(turn_idx) AS es_variance,
               stddev_pop(turn_idx) AS es_std_deviation,
               sum(turn_idx::DOUBLE * len(text)) / sum(len(text)::DOUBLE)
                 AS wa
        FROM t GROUP BY 1 ORDER BY doc_count DESC, key ASC
    """).df()
    assert got["key"].tolist() == want["key"].tolist()
    for c in ("es_min", "es_max", "es_avg", "es_sum",
              "es_sum_of_squares", "es_variance", "es_std_deviation",
              "wa"):
        np.testing.assert_allclose(got[c], want[c], rtol=1e-9,
                                   err_msg=c)
    # the indexed twin runs over doc_stats, which lacks the derived
    # n_chars column — check extended_stats alone there
    req2 = {"aggs": {"by_role": {
        "terms": {"field": "role"},
        "aggs": {"es": {"extended_stats": {"field": "turn_idx"}}}}}}
    gi = dsl_aggregate_indexed(spark, dsl_index, req2).toPandas()
    g2 = dsl_aggregate(docs, req2).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        g2.sort_values("key").reset_index(drop=True))

    # serial_diff lag 2 over weekly buckets
    req3 = {"aggs": {"wk": {
        "date_histogram": {"field": "ts", "calendar_interval": "week"},
        "aggs": {"sd": {"serial_diff": {"buckets_path": "_count",
                                        "lag": 2}}}}}}
    g3 = dsl_aggregate(docs, req3).toPandas()
    w3 = con.sql("""
        SELECT key, doc_count,
               doc_count - lag(doc_count, 2) OVER (ORDER BY key) AS sd
        FROM (SELECT date_trunc('week', ts) AS key,
                     count(*) AS doc_count FROM t GROUP BY 1)
        ORDER BY key
    """).df()
    assert g3["doc_count"].tolist() == w3["doc_count"].astype(int).tolist()
    assert pd.isna(g3["sd"].iloc[0]) and pd.isna(g3["sd"].iloc[1])
    assert g3["sd"].iloc[2:].tolist() == w3["sd"].iloc[2:].astype(
        int).tolist()

    # adjacency_matrix: singles + pairwise intersections, key-sorted
    req4 = {"aggs": {"adj": {"adjacency_matrix": {"filters": {
        "early": {"range": {"turn_idx": {"lt": 10}}},
        "usr": {"term": {"role": "user"}},
        "bash": {"term": {"tool": "bash"}},
    }}}}}
    g4 = dsl_aggregate(docs, req4).toPandas()
    w4 = con.sql("""
        SELECT k AS key, c AS doc_count FROM (
          SELECT 'early' k, count(*) c FROM t WHERE turn_idx < 10
          UNION ALL SELECT 'usr', count(*) FROM t WHERE role = 'user'
          UNION ALL SELECT 'bash', count(*) FROM t WHERE tool = 'bash'
          UNION ALL SELECT 'early&usr', count(*) FROM t
                    WHERE turn_idx < 10 AND role = 'user'
          UNION ALL SELECT 'bash&early', count(*) FROM t
                    WHERE tool = 'bash' AND turn_idx < 10
          UNION ALL SELECT 'bash&usr', count(*) FROM t
                    WHERE tool = 'bash' AND role = 'user')
        WHERE c > 0 ORDER BY key
    """).df()
    assert g4["key"].tolist() == w4["key"].tolist()
    assert g4["doc_count"].tolist() == w4["doc_count"].astype(int).tolist()
    gi4 = dsl_aggregate_indexed(spark, dsl_index, req4).toPandas()
    pd.testing.assert_frame_equal(
        gi4.reset_index(drop=True), g4.reset_index(drop=True))

    for bad in (
        {"a": {"extended_stats": {"field": "turn_idx", "sigma": 3}}},
        {"a": {"weighted_avg": {"value": {"field": "turn_idx"}}}},
        {"a": {"weighted_avg": {"value": {"field": "turn_idx"},
                                "weight": {"field": "turn_idx",
                                           "missing": 1}}}},
        {"a": {"adjacency_matrix": {"filters": {
            "x&y": {"term": {"role": "user"}},
            "z": {"term": {"role": "tool"}}}}}},
        {"a": {"adjacency_matrix": {"filters": {
            "x": {"term": {"role": "user"}}}, "separator": ""}}},
        {"wk": {"date_histogram": {"field": "ts",
                                   "calendar_interval": "week"},
                "aggs": {"sd": {"serial_diff": {
                    "buckets_path": "_count", "lag": 0}}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": bad}).collect()


def test_date_range_other_bucket_shard_size(spark, docs, docs_pdf,
                                            dsl_index):
    """date_range buckets with date-math bounds, the filters agg's
    other_bucket, and shard_size as a safe no-op on the exact
    engine — vs duckdb replays, both executors."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    con = duckdb.connect()
    con.register("t", docs_pdf)

    # date_range: one math-derived bound, one open end, one custom key
    req = {"aggs": {"dr": {"date_range": {"field": "ts", "ranges": [
        {"to": "2025-06-09||/w"},
        {"from": "2025-06-09||/w", "to": "2025-06-09||+1w/w",
         "key": "wk"},
        {"from": "2025-06-16T00:00:00"},
    ]}}}}
    got = dsl_aggregate(docs, req).toPandas()
    want = con.sql("""
        SELECT k AS key, c AS doc_count FROM (
          SELECT '*-2025-06-09 00:00:00' k, count(*) c FROM t
          WHERE ts < TIMESTAMP '2025-06-09'
          UNION ALL SELECT 'wk', count(*) FROM t
          WHERE ts >= TIMESTAMP '2025-06-09'
            AND ts < TIMESTAMP '2025-06-16'
          UNION ALL SELECT '2025-06-16 00:00:00-*', count(*) FROM t
          WHERE ts >= TIMESTAMP '2025-06-16') WHERE c > 0
    """).df()
    assert sorted(got["key"]) == sorted(want["key"])
    assert (got.set_index("key")["doc_count"].to_dict()
            == want.set_index("key")["doc_count"].astype(int).to_dict())
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.reset_index(drop=True), got.reset_index(drop=True))

    # other_bucket: the complement lands in a trailing named bucket
    req2 = {"aggs": {"f": {"filters": {
        "filters": {"u": {"term": {"role": "user"}},
                    "a": {"term": {"role": "assistant"}}},
        "other_bucket_key": "rest"}}}}
    g2 = dsl_aggregate(docs, req2).toPandas()
    vc = docs_pdf["role"].value_counts()
    assert g2["key"].tolist() == ["u", "a", "rest"]
    assert g2["doc_count"].tolist() == [
        int(vc["user"]), int(vc["assistant"]),
        int(len(docs_pdf) - vc["user"] - vc["assistant"])]
    gi2 = dsl_aggregate_indexed(spark, dsl_index, req2).toPandas()
    pd.testing.assert_frame_equal(
        gi2.reset_index(drop=True), g2.reset_index(drop=True))

    # ES: an explicit other_bucket:false wins over other_bucket_key
    req2f = {"aggs": {"f": {"filters": {
        "filters": {"u": {"term": {"role": "user"}},
                    "a": {"term": {"role": "assistant"}}},
        "other_bucket": False, "other_bucket_key": "rest"}}}}
    g2f = dsl_aggregate(docs, req2f).toPandas()
    assert g2f["key"].tolist() == ["u", "a"]
    gi2f = dsl_aggregate_indexed(spark, dsl_index, req2f).toPandas()
    pd.testing.assert_frame_equal(
        gi2f.reset_index(drop=True), g2f.reset_index(drop=True))

    # an explicit empty-string bucket key is honored, not defaulted
    ge = dsl_aggregate(docs, {"aggs": {"dr": {"date_range": {
        "field": "ts",
        "ranges": [{"to": "2025-06-09", "key": ""}]}}}}).toPandas()
    assert ge["key"].tolist() == [""]

    # shard_size: accepted as a documented no-op (exact engine)
    g3 = dsl_aggregate(docs, {"aggs": {"r": {"terms": {
        "field": "role", "shard_size": 500}}}}).toPandas()
    g4 = dsl_aggregate(docs, {"aggs": {"r": {"terms": {
        "field": "role"}}}}).toPandas()
    pd.testing.assert_frame_equal(g3, g4)

    for bad in (
        {"dr": {"date_range": {"field": "ts", "ranges": [
            {"from": "not a date"}]}}},
        {"dr": {"date_range": {"field": "ts", "ranges": [{}]}}},
        {"dr": {"date_range": {"field": "ts", "ranges": [
            {"to": "2025-06-09", "key": 5}]}}},
        {"f": {"filters": {"filters": {"u": {"term": {"role": "u"}}},
                           "other_bucket": "yes"}}},
        {"r": {"terms": {"field": "role",
                         "show_term_doc_count_error": True}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": bad}).collect()


def test_sibling_pipeline_rejects(spark, docs):
    from prow_jobs_scraper_spark.search.dsl import dsl_aggregate

    def req(sib, parent=None):
        parent = parent or {"terms": {"field": "role"}}
        return {"aggs": {"a": parent, **sib}}

    with pytest.raises(DslError, match="unsupported avg_bucket"):
        dsl_aggregate(docs, req({"s": {"avg_bucket": {
            "buckets_path": "a>_count", "gap_policy": "insert_zeros"}}}))
    with pytest.raises(DslError, match="must reference the sibling"):
        dsl_aggregate(docs, req({"s": {"avg_bucket": {
            "buckets_path": "other>_count"}}}))
    with pytest.raises(DslError, match="not a metric"):
        dsl_aggregate(docs, req({"s": {"avg_bucket": {
            "buckets_path": "a>nope"}}}))
    with pytest.raises(DslError, match="collides"):
        dsl_aggregate(docs, req({"doc_count": {"sum_bucket": {
            "buckets_path": "a>_count"}}}))
    # a range parent is out of grammar (definition-order buckets)
    with pytest.raises(DslError, match="sibling pipelines need"):
        dsl_aggregate(docs, req(
            {"s": {"avg_bucket": {"buckets_path": "a>_count"}}},
            parent={"range": {"field": "turn_idx",
                              "ranges": [{"from": 0, "to": 5}]}}))
    # two non-pipeline top-level aggs stay out of grammar
    with pytest.raises(DslError, match="exactly one non-pipeline"):
        dsl_aggregate(docs, {"aggs": {
            "a": {"terms": {"field": "role"}},
            "b": {"terms": {"field": "tool"}}}})


# --------------------------------------------------------------------------
# the aggregation metric-kind table: output names, bare vs bucketed,
# sibling pipelines
# --------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from prow_jobs_scraper_spark.search.dsl import (  # noqa: E402
    _METRICS,
    _SIBLING_KINDS,
)


def test_agg_output_name_collisions_fail_loud(spark, docs, dsl_index):
    """Every output column name of one aggregation level is distinct:
    a metric named like a bucket column, two metrics flattening to the
    same column, or a repeated percent fail loud instead of returning
    duplicate or unresolvable columns — on both executors."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    avg = {"avg": {"field": "turn_idx"}}
    pct = {"percentiles": {"field": "turn_idx", "percents": [50, 50.0]}}

    def terms(sub):
        return {"terms": {"field": "role"}, "aggs": sub}

    cases = [
        {"a": terms({"key": avg})},
        {"a": terms({"doc_count": avg})},
        {"a": terms({"s": {"stats": {"field": "turn_idx"}},
                     "s_min": avg})},
        {"p": pct},
        {"a": terms({"p": pct})},
        {"a": {"date_histogram": {"field": "ts",
                                  "calendar_interval": "week"},
               "aggs": {"b": {"terms": {"field": "tool"},
                              "aggs": {"sub_key": avg}}}}},
        {"a": {"filters": {"filters": {"u": {"match_all": {}}}},
               "aggs": {"key": avg}}},
        {"a": {"range": {"field": "turn_idx", "ranges": [{"to": 3}]},
               "aggs": {"__rank": avg}}},
        {"a": terms({"m": avg}), "m2": {"sum_bucket": {
            "buckets_path": "a>_count"}},
         "m": {"sum_bucket": {"buckets_path": "a>_count"}}},
    ]
    for aggs in cases:
        with pytest.raises(DslError, match="collides"):
            dsl_aggregate(docs, {"aggs": aggs}).collect()
    for aggs in cases[:2]:
        with pytest.raises(DslError, match="collides"):
            dsl_aggregate_indexed(spark, dsl_index,
                                  {"aggs": aggs}).collect()


# one body per metric kind of the aggregation table; the first test
# fails when a kind is added without one
_KIND_BODIES = {
    "avg": {"field": "turn_idx"},
    "sum": {"field": "turn_idx"},
    "min": {"field": "turn_idx"},
    "max": {"field": "turn_idx"},
    "value_count": {"field": "tool"},
    "cardinality": {"field": "tool"},
    "stats": {"field": "turn_idx"},
    "extended_stats": {"field": "turn_idx"},
    "percentiles": {"field": "turn_idx", "percents": [25, 50, 97.5]},
    "percentile_ranks": {"field": "turn_idx", "values": [1, 2.5]},
    "boxplot": {"field": "turn_idx"},
    "top_metrics": {"metrics": [{"field": "tool"}, {"field": "turn_idx"}],
                    "sort": {"ts": "desc"}},
    "weighted_avg": {"value": {"field": "turn_idx"},
                     "weight": {"field": "turn_idx"}},
    "median_absolute_deviation": {"field": "turn_idx"},
    "string_stats": {"field": "tool"},
    "matrix_stats": {"fields": ["turn_idx"]},
}
_BUCKET_METRICS = sorted(k for k, m in _METRICS.items() if m.bucket)
_SIBLINGS = sorted(_SIBLING_KINDS)


def _rows_close(a: pd.DataFrame, b: pd.DataFrame):
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if isinstance(x, float) and isinstance(y, float):
                assert x == pytest.approx(y, rel=1e-9, nan_ok=True), c
            else:
                assert x == y, c


def test_metric_table_has_a_body_per_kind():
    assert set(_KIND_BODIES) == set(_METRICS)
    # the root-only kinds stay root-only
    assert {"string_stats", "matrix_stats"}.isdisjoint(_BUCKET_METRICS)


@pytest.mark.parametrize("kind", _BUCKET_METRICS)
def test_metric_kind_bare_equals_one_bucket(spark, docs, kind):
    """A metric kind allowed under a bucket gives the same values bare
    at the root as inside a one-bucket terms parent, and the bucket
    frame's metric columns are exactly the names its table entry
    returns."""
    from prow_jobs_scraper_spark.search.dsl import (
        _prepare,
        dsl_aggregate,
    )

    one = docs.withColumn("one", F.lit("all"))
    body = _KIND_BODIES[kind]
    bare = dsl_aggregate(one, {"aggs": {"m": {kind: body}}}).toPandas()
    bucket = dsl_aggregate(one, {"aggs": {"a": {
        "terms": {"field": "one"},
        "aggs": {"m": {kind: body}}}}}).toPandas()
    assert bucket["key"].tolist() == ["all"]
    assert bucket["doc_count"].tolist() == [docs.count()]

    spec = {"m": {kind: body}}
    _, prepared = _prepare(one, F.col("one"), spec)
    names = [n for n, _ in _METRICS[kind].cols(kind, "m", body,
                                               prepared.get("m"))]
    assert list(bucket.columns) == ["key", "doc_count", *names]
    assert list(bare.columns) == names
    _rows_close(bare, bucket[names])


@pytest.mark.parametrize("path", ["_count", "v"])
@pytest.mark.parametrize("sibling", _SIBLINGS)
def test_sibling_kind_equals_metric_over_bucket_column(spark, docs,
                                                       sibling, path):
    """``X_bucket`` next to a bucket agg equals metric ``X`` computed
    over that bucket frame's column (doc counts or a metric leaf)."""
    from prow_jobs_scraper_spark.search.dsl import _apply_agg, dsl_aggregate

    metric = _SIBLING_KINDS[sibling]
    opts = {"percents": [10, 50, 97.5]} if metric == "percentiles" else {}
    parent = {"terms": {"field": "tool", "size": 100},
              "aggs": {"v": {"avg": {"field": "turn_idx"}}}}
    buckets = dsl_aggregate(docs, {"aggs": {"a": parent}})
    with_sib = dsl_aggregate(docs, {"aggs": {
        "a": parent,
        "s": {sibling: {"buckets_path": f"a>{path}", **opts}}}}).toPandas()
    col = "doc_count" if path == "_count" else path
    want = _apply_agg(buckets, "s", metric, {"field": col, **opts},
                      {}).toPandas()
    got = with_sib[list(want.columns)].head(1).reset_index(drop=True)
    _rows_close(got.astype(object), want.astype(object))


def test_sibling_and_metric_dtypes_stay_distinct(spark, docs):
    """The sibling form keeps the bucket column's type while the
    ``extended_stats`` metric casts its field to double: the shared
    table must not unify them."""
    from prow_jobs_scraper_spark.search.dsl import dsl_aggregate

    stats = ("count", "min", "max", "avg", "sum", "sum_of_squares",
             "variance", "std_deviation")
    sib = dsl_aggregate(docs, {"aggs": {
        "a": {"terms": {"field": "tool"}},
        "s": {"extended_stats_bucket": {"buckets_path": "a>_count"}}}})
    assert [t for c, t in sib.dtypes if c.startswith("s_")] == [
        "bigint", "bigint", "bigint", "double", "bigint", "bigint",
        "double", "double"]
    assert [c for c in sib.columns if c.startswith("s_")] == [
        f"s_{s}" for s in stats]
    met = dsl_aggregate(docs, {"aggs": {"e": {
        "extended_stats": {"field": "turn_idx"}}}})
    assert met.dtypes == [(f"e_{s}", "bigint" if s == "count" else "double")
                          for s in stats]
    pct = dsl_aggregate(docs, {"aggs": {
        "a": {"terms": {"field": "tool"}},
        "s": {"percentiles_bucket": {"buckets_path": "a>_count",
                                     "percents": [50]}}}})
    assert dict(pct.dtypes)["s_p50"] == "double"


def test_significant_terms_matches_duckdb(spark, docs, docs_pdf,
                                          dsl_index):
    """ES significant_terms (JLH heuristic, default min_doc_count 3):
    terms over-represented in the query's qualifying set vs the whole
    index; oracle = duckdb replay of the fg/bg percentage join; both
    executors identical."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"query": {"range": {"turn_idx": {"lt": 5}}},
           "aggs": {"sig": {"significant_terms": {
               "field": "tool", "size": 4}}}}
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        WITH fg AS (SELECT tool AS key, count(*) AS doc_count FROM t
                    WHERE turn_idx < 5 AND tool IS NOT NULL GROUP BY 1),
             bg AS (SELECT tool AS key, count(*) AS bg_count FROM t
                    WHERE tool IS NOT NULL GROUP BY 1),
             tot AS (SELECT
                (SELECT count(*) FROM t
                 WHERE turn_idx < 5 AND tool IS NOT NULL) AS ft,
                (SELECT count(*) FROM t WHERE tool IS NOT NULL) AS bt)
        SELECT key, doc_count, bg_count,
               (doc_count*1.0/ft - bg_count*1.0/bt)
                 * ((doc_count*1.0/ft)/(bg_count*1.0/bt)) AS score
        FROM fg JOIN bg USING (key), tot
        WHERE doc_count >= 3 AND doc_count*1.0/ft > bg_count*1.0/bt
        ORDER BY score DESC, key ASC LIMIT 4
    """).df()
    assert len(got) == len(want) == 4
    assert got["key"].tolist() == want["key"].tolist()
    assert got["doc_count"].tolist() == want["doc_count"].astype(int).tolist()
    assert got["bg_count"].tolist() == want["bg_count"].astype(int).tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.sort_values("key").reset_index(drop=True))
    # background_filter (round 5): the background narrows to a
    # metadata slice — scores shift vs the whole-index run; duckdb
    # replays the filtered percentages; indexed identical
    reqf = {"query": {"range": {"turn_idx": {"lt": 5}}},
            "aggs": {"sig": {"significant_terms": {
                "field": "tool", "size": 4,
                "background_filter": {"range": {"turn_idx":
                                                {"lt": 20}}}}}}}
    gf = dsl_aggregate(docs, reqf).toPandas()
    wf = con.sql("""
        WITH fg AS (SELECT tool AS key, count(*) AS doc_count FROM t
                    WHERE turn_idx < 5 AND tool IS NOT NULL GROUP BY 1),
             bg AS (SELECT tool AS key, count(*) AS bg_count FROM t
                    WHERE turn_idx < 20 AND tool IS NOT NULL GROUP BY 1),
             tot AS (SELECT
                (SELECT count(*) FROM t
                 WHERE turn_idx < 5 AND tool IS NOT NULL) AS ft,
                (SELECT count(*) FROM t
                 WHERE turn_idx < 20 AND tool IS NOT NULL) AS bt)
        SELECT key, doc_count, bg_count,
               (doc_count*1.0/ft - bg_count*1.0/bt)
                 * ((doc_count*1.0/ft)/(bg_count*1.0/bt)) AS score
        FROM fg JOIN bg USING (key), tot
        WHERE doc_count >= 3 AND doc_count*1.0/ft > bg_count*1.0/bt
        ORDER BY score DESC, key ASC LIMIT 4
    """).df()
    assert gf["key"].tolist() == wf["key"].tolist()
    assert gf["bg_count"].tolist() == wf["bg_count"].astype(int).tolist()
    np.testing.assert_allclose(gf["score"], wf["score"], rtol=1e-12)
    assert not gf["bg_count"].equals(got["bg_count"])  # it narrowed
    gfi = dsl_aggregate_indexed(spark, dsl_index, reqf).toPandas()
    pd.testing.assert_frame_equal(
        gfi.sort_values("key").reset_index(drop=True),
        gf.sort_values("key").reset_index(drop=True))
    with pytest.raises(DslError):
        dsl_aggregate(docs, {"aggs": {"s": {"significant_terms": {
            "field": "tool",
            "background_filter": {"match": {"text": "x"}}}}}}).collect()


def test_significant_text_matches_replay(spark, docs, docs_pdf,
                                         dsl_index):
    """ES significant_text: JLH over tokenized text — terms
    over-represented in the qualifying docs vs the corpus; oracle =
    Counter replay in python; the indexed executor resolves the
    qualifying set from postings and reads docs_df for tokens."""
    from collections import Counter

    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"query": {"match": {"text": "the_hot_term"}},
           "aggs": {"sig": {"significant_text": {
               "field": "text", "size": 8, "min_doc_count": 2}}}}
    got = dsl_aggregate(docs, req).toPandas()

    tok_lists = tokenize_pandas(docs_pdf["text"]).tolist()
    fg_idx = [i for i, lst in enumerate(tok_lists)
              if "the_hot_term" in lst]
    fg = Counter(t for i in fg_idx for t in set(tok_lists[i]))
    bg = Counter(t for lst in tok_lists for t in set(lst))
    ft = sum(1 for i in fg_idx if tok_lists[i])
    bt = sum(1 for lst in tok_lists if lst)
    want = []
    for t, f in fg.items():
        b = bg[t]
        if f >= 2 and f / ft > b / bt:
            want.append((t, f, b,
                         (f / ft - b / bt) * ((f / ft) / (b / bt))))
    want.sort(key=lambda x: (-x[3], x[0]))
    want = want[:8]
    assert got["key"].tolist() == [w[0] for w in want]
    assert got["doc_count"].tolist() == [w[1] for w in want]
    assert got["bg_count"].tolist() == [w[2] for w in want]
    np.testing.assert_allclose(got["score"],
                               [w[3] for w in want], rtol=1e-12)
    gi = dsl_aggregate_indexed(spark, dsl_index, req,
                               docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(
        gi.reset_index(drop=True), got.reset_index(drop=True))

    with pytest.raises(DslError, match="needs docs_df"):
        dsl_aggregate_indexed(spark, dsl_index, req)
    for bad in (
        {"sig": {"significant_text": {"field": "text",
                                      "filter_duplicate_text": True}}},
        {"sig": {"significant_text": {"field": "text"},
                 "aggs": {"m": {"avg": {"field": "turn_idx"}}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"aggs": bad}).collect()


def test_sampler_agg(spark, docs, docs_pdf, dsl_index):
    """ES sampler: the sub-agg sees only the top shard_size
    best-scoring docs — pinned against the python ranking oracle's
    top-n cut + a pandas groupby; both executors; sampler +
    significant_text compose; validation fails loud."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    q = {"match": {"text": {"query": "spark agent", "operator": "or"}}}
    req = {"query": q, "aggs": {"s": {
        "sampler": {"shard_size": 40},
        "aggs": {"by_role": {"terms": {"field": "role"}}}}}}
    got = dsl_aggregate(docs, req).toPandas()
    top = dsl_oracle(docs_pdf, {"query": q}, 40)
    sampled = docs_pdf[docs_pdf["doc_id"].isin(top["doc_id"])]
    want = (sampled["role"].value_counts()
            .reset_index().values.tolist())
    want.sort(key=lambda r: (-r[1], r[0]))
    assert got["key"].tolist() == [w[0] for w in want]
    assert got["doc_count"].tolist() == [w[1] for w in want]
    assert got["doc_count"].sum() == 40
    gi = dsl_aggregate_indexed(spark, dsl_index, req,
                               docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(
        gi.reset_index(drop=True), got.reset_index(drop=True))

    # the canonical combo: significant_text over the sampled set only
    req2 = {"query": q, "aggs": {"s": {
        "sampler": {"shard_size": 40},
        "aggs": {"sig": {"significant_text": {
            "field": "text", "min_doc_count": 2}}}}}}
    g2 = dsl_aggregate(docs, req2).toPandas()
    assert (g2["doc_count"] <= 40).all()
    gi2 = dsl_aggregate_indexed(spark, dsl_index, req2,
                                docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(
        gi2.reset_index(drop=True), g2.reset_index(drop=True))

    for bad in (
        {"s": {"sampler": {"shard_size": 40,
                           "max_docs_per_value": 3},
               "aggs": {"r": {"terms": {"field": "role"}}}}},
        {"s": {"sampler": {"shard_size": 0},
               "aggs": {"r": {"terms": {"field": "role"}}}}},
        {"s": {"sampler": {"shard_size": 40}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"query": q, "aggs": bad}).collect()

    # a sibling pipeline next to a sampler is out of grammar — BOTH
    # executors fail loud (the indexed path must not silently drop it)
    sib = {"query": q, "aggs": {
        "s": {"sampler": {"shard_size": 40},
              "aggs": {"r": {"terms": {"field": "role"}}}},
        "m": {"avg_bucket": {"buckets_path": "s>_count"}}}}
    with pytest.raises(DslError):
        dsl_aggregate(docs, sib).collect()
    with pytest.raises(DslError):
        dsl_aggregate_indexed(spark, dsl_index, sib).collect()


def test_diversified_sampler(spark, docs, docs_pdf, dsl_index):
    """ES diversified_sampler: the sampler cut with a per-field-value
    cap — at most max_docs_per_value docs sharing a value enter the
    sample, filled in score order (replayed here as per-value top-m
    then global top-n against the python ranking oracle). NULL field
    values form their own capped class; both executors; validation
    fails loud."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    q = {"match": {"text": {"query": "spark agent", "operator": "or"}}}
    req = {"query": q, "aggs": {"s": {
        "diversified_sampler": {"shard_size": 15, "field": "tool",
                                "max_docs_per_value": 2},
        "aggs": {"by_role": {"terms": {"field": "role"}}}}}}
    got = dsl_aggregate(docs, req).toPandas()

    ranked = dsl_oracle(docs_pdf, {"query": q}, len(docs_pdf))
    ranked = ranked.merge(docs_pdf[["doc_id", "tool", "role"]],
                          on="doc_id")
    # per-tool-value top-2 by (score desc, doc_id asc) — NaN tool is
    # its own class — then global top-15
    ranked["__r"] = (ranked.groupby("tool", dropna=False)
                     .cumcount())  # already score-ordered by the oracle
    sample = ranked[ranked["__r"] < 2].head(15)
    assert len(sample) == 15
    want = sample["role"].value_counts().reset_index().values.tolist()
    want.sort(key=lambda r: (-r[1], r[0]))
    assert got["key"].tolist() == [w[0] for w in want]
    assert got["doc_count"].tolist() == [w[1] for w in want]
    # the cap binds: no tool value contributes more than 2 sample docs
    assert (sample.groupby("tool", dropna=False).size() <= 2).all()

    gi = dsl_aggregate_indexed(spark, dsl_index, req,
                               docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(
        gi.reset_index(drop=True), got.reset_index(drop=True))

    for bad in (
        {"diversified_sampler": {"shard_size": 15},
         "aggs": {"r": {"terms": {"field": "role"}}}},  # field missing
        {"diversified_sampler": {"shard_size": 15, "field": "tool",
                                 "max_docs_per_value": 0},
         "aggs": {"r": {"terms": {"field": "role"}}}},
        {"diversified_sampler": {"shard_size": 15, "field": "tool",
                                 "execution_hint": "map"},
         "aggs": {"r": {"terms": {"field": "role"}}}},
        {"diversified_sampler": {"shard_size": 15, "field": "tool"}},
        {"diversified_sampler": {"shard_size": 15, "field": "nope"},
         "aggs": {"r": {"terms": {"field": "role"}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"query": q, "aggs": {"s": bad}}
                          ).collect()


def test_rare_terms_matches_duckdb(spark, docs, docs_pdf, dsl_index):
    """ES rare_terms (exact; ES is CuckooFilter-approximate): every
    term with doc_count <= max_doc_count, count asc / key asc, no size
    cut; metric sub-aggs ride along."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"aggs": {"rare": {
        "rare_terms": {"field": "conv_id", "max_doc_count": 2},
        "aggs": {"last_turn": {"max": {"field": "turn_idx"}}}}}}
    got = dsl_aggregate(docs, req).toPandas()
    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        SELECT conv_id AS key, count(*) AS doc_count,
               max(turn_idx) AS last_turn
        FROM t WHERE conv_id IS NOT NULL GROUP BY 1
        HAVING count(*) <= 2 ORDER BY doc_count ASC, key ASC
    """).df()
    assert len(got) == len(want) == 25
    assert got["key"].tolist() == want["key"].tolist()
    assert got["doc_count"].tolist() == want["doc_count"].astype(int).tolist()
    assert got["last_turn"].tolist() == want["last_turn"].astype(int).tolist()
    gi = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.sort_values("key").reset_index(drop=True))


def test_global_agg_ignores_the_query(spark, docs, docs_pdf, dsl_index):
    """ES global bucket: its sub-agg runs over the WHOLE index even
    under a restrictive query — equal to running the sub-agg with
    match_all; both executors identical."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    narrow = {"query": {"term": {"role": "user"}},
              "aggs": {"all_docs": {"global": {}, "aggs": {
                  "by_role": {"terms": {"field": "role"}}}}}}
    wide = {"aggs": {"by_role": {"terms": {"field": "role"}}}}
    got = dsl_aggregate(docs, narrow).toPandas()
    want = dsl_aggregate(docs, wide).toPandas()
    pd.testing.assert_frame_equal(got, want)
    assert got["doc_count"].sum() == len(docs_pdf)
    gi = dsl_aggregate_indexed(spark, dsl_index, narrow).toPandas()
    pd.testing.assert_frame_equal(
        gi.sort_values("key").reset_index(drop=True),
        got.sort_values("key").reset_index(drop=True))


def test_new_agg_rejects(spark, docs):
    from prow_jobs_scraper_spark.search.dsl import dsl_aggregate

    # background_filter is SUPPORTED since round 5's final session —
    # an empty clause now fails in the filters-clause grammar instead
    with pytest.raises(DslError, match="bad filter 'background_filter'"):
        dsl_aggregate(docs, {"aggs": {"s": {"significant_terms": {
            "field": "tool", "background_filter": {}}}}})
    with pytest.raises(DslError, match="unsupported significant_terms"):
        dsl_aggregate(docs, {"aggs": {"s": {"significant_terms": {
            "field": "tool", "gnd": {}}}}})
    with pytest.raises(DslError, match="no sub-aggregations"):
        dsl_aggregate(docs, {"aggs": {"s": {
            "significant_terms": {"field": "tool"},
            "aggs": {"m": {"avg": {"field": "turn_idx"}}}}}})
    with pytest.raises(DslError, match="unsupported rare_terms"):
        dsl_aggregate(docs, {"aggs": {"r": {"rare_terms": {
            "field": "tool", "precision": 0.01}}}})
    with pytest.raises(DslError, match="empty body"):
        dsl_aggregate(docs, {"aggs": {"g": {
            "global": {"field": "x"},
            "aggs": {"m": {"avg": {"field": "turn_idx"}}}}}})


def test_composite_agg_pages_cover_the_bucket_space(spark, docs,
                                                    docs_pdf, dsl_index):
    """Chasing the after-cursor through every page reproduces the full
    (role, tool) bucket space in source order — NULL-source docs drop
    (ES missing_bucket=false); metric leaves ride along; indexed page
    equals naive page."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    def req(after=None):
        body = {"sources": [{"r": {"terms": {"field": "role"}}},
                            {"tl": {"terms": {"field": "tool"}}}],
                "size": 3}
        if after is not None:
            body["after"] = after
        return {"aggs": {"pairs": {"composite": body,
                                   "aggs": {"mx": {"max": {
                                       "field": "turn_idx"}}}}}}

    pages, after = [], None
    for _ in range(100):
        page = dsl_aggregate(docs, req(after)).toPandas()
        if page.empty:
            break
        assert len(page) <= 3
        pages.append(page)
        after = {"r": page["r"].iloc[-1], "tl": page["tl"].iloc[-1]}
    else:
        pytest.fail("composite cursor did not terminate")
    got = pd.concat(pages, ignore_index=True)

    con = duckdb.connect()
    con.register("t", docs_pdf)
    want = con.sql("""
        SELECT role AS r, tool AS tl, count(*) AS doc_count,
               max(turn_idx) AS mx
        FROM t WHERE role IS NOT NULL AND tool IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
    """).df()
    assert got["r"].tolist() == want["r"].tolist()
    assert got["tl"].tolist() == want["tl"].tolist()
    assert got["doc_count"].tolist() == want["doc_count"].tolist()
    assert got["mx"].tolist() == want["mx"].astype(int).tolist()
    # every page but the last is exactly full (deterministic paging)
    assert all(len(p) == 3 for p in pages[:-1])
    assert len(pages) == math.ceil(len(want) / 3)

    gi = dsl_aggregate_indexed(spark, dsl_index, req()).toPandas()
    pd.testing.assert_frame_equal(gi, pages[0])


def test_composite_agg_rejects(spark, docs):
    from prow_jobs_scraper_spark.search.dsl import dsl_aggregate

    def creq(body):
        return {"aggs": {"c": {"composite": body}}}

    base = [{"r": {"terms": {"field": "role"}}}]
    with pytest.raises(DslError, match="only terms sources"):
        dsl_aggregate(docs, creq({"sources": [{"h": {"histogram": {
            "field": "turn_idx", "interval": 5}}}]}))
    with pytest.raises(DslError, match="out-of-grammar"):
        dsl_aggregate(docs, creq({"sources": [{"r": {"terms": {
            "field": "role", "order": "desc"}}}]}))
    with pytest.raises(DslError, match="exactly the source keys"):
        dsl_aggregate(docs, creq({"sources": base,
                                  "after": {"nope": "x"}}))
    with pytest.raises(DslError, match="unsupported composite"):
        dsl_aggregate(docs, creq({"sources": base, "after_key": {}}))
    with pytest.raises(DslError, match="nest bucket"):
        dsl_aggregate(docs, {"aggs": {"c": {
            "composite": {"sources": base},
            "aggs": {"w": {"date_histogram": {
                "field": "ts", "calendar_interval": "week"}}}}}})
    with pytest.raises(DslError, match="not available"):
        dsl_aggregate(docs, creq({"sources": [{"x": {"terms": {
            "field": "no_such_col"}}}]}))


# --------------------------------------------------------------------------
# 5. multi-segment indexed execution
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def dsl_segments(spark, docs, tmp_path_factory) -> list[str]:
    """Corpus split into two disjoint segments, independently built with
    DIFFERENT layouts (the incremental-maintenance shape)."""
    from pyspark.sql import functions as SF
    d1 = str(tmp_path_factory.mktemp("dsl_seg1"))
    d2 = str(tmp_path_factory.mktemp("dsl_seg2"))
    a = docs.where(SF.pmod(SF.col("doc_id"), SF.lit(2)) == 0)
    b = docs.where(SF.pmod(SF.col("doc_id"), SF.lit(2)) == 1)
    build_index(spark, a, d1, BuildConfig(n_ranges=8, n_buckets=4))
    build_index(spark, b, d2, BuildConfig(n_ranges=4, n_buckets=2))
    return [d1, d2]


MULTI_QUERIES = [DSL_QUERIES[0], DSL_QUERIES[3], DSL_QUERIES[5],
                 DSL_QUERIES[8]]


@pytest.mark.parametrize("label,q", MULTI_QUERIES,
                         ids=[x[0] for x in MULTI_QUERIES])
def test_dsl_multi_segment_matches_naive(spark, docs, dsl_segments, label, q):
    got = search_dsl_indexed(spark, dsl_segments, q, 10,
                             docs_df=docs).toPandas()
    want = search_dsl(docs, q, 10).toPandas()
    _assert_rank_identical(got, want, f"multi:{label}")


def _span_terms(*terms):
    return [{"span_term": {"text": t}} for t in terms]


# every positional kind: (id, clause, the kind the no-sidecar error names)
_POSITIONAL_CLAUSES = [
    ("phrase-slop0", {"match_phrase": {"text": "the_hot_term spark"}},
     "match_phrase"),
    ("phrase-slop2", {"match_phrase": {"text": {
        "query": "spark the_hot_term", "slop": 2}}}, "match_phrase"),
    *[(f"span-near-{'ordered' if o else 'unordered'}-slop{s}",
       {"span_near": {"clauses": _span_terms("the_hot_term", "spark"),
                      "slop": s, "in_order": o}}, "span_near")
      for o in (True, False) for s in (0, 2)],
    ("span-first-end2", {"span_first": {
        "match": {"span_term": {"text": "the_hot_term"}}, "end": 2}},
     "span_first"),
    ("span-not-1-2", {"span_not": {
        "include": {"span_term": {"text": "spark"}},
        "exclude": {"span_term": {"text": "agent"}},
        "pre": 1, "post": 2}}, "span_not"),
]


@pytest.fixture(scope="module")
def position_segments(spark, docs, tmp_path_factory):
    """Two segments with the positions sidecar, built with different
    n_ranges/n_buckets, plus a copy of the second without it."""
    from pyspark.sql import functions as SF

    d1 = str(tmp_path_factory.mktemp("dsl_pseg1"))
    d2 = str(tmp_path_factory.mktemp("dsl_pseg2"))
    d3 = str(tmp_path_factory.mktemp("dsl_pseg3"))
    a = docs.where(SF.pmod(SF.col("doc_id"), SF.lit(2)) == 0)
    b = docs.where(SF.pmod(SF.col("doc_id"), SF.lit(2)) == 1)
    build_index(spark, a, d1,
                BuildConfig(n_ranges=8, n_buckets=4, store_positions=True))
    build_index(spark, b, d2,
                BuildConfig(n_ranges=4, n_buckets=2, store_positions=True))
    build_index(spark, b, d3, BuildConfig(n_ranges=4, n_buckets=2))
    return d1, d2, d3


@pytest.mark.parametrize(
    "clause,kind", [(c, k) for _, c, k in _POSITIONAL_CLAUSES],
    ids=[i for i, _, _ in _POSITIONAL_CLAUSES])
def test_dsl_phrase_from_positions_multi_segment(spark, docs,
                                                 position_segments,
                                                 clause, kind):
    # every positional kind with docs_df=None: proven from the positions
    # sidecar across two independently-built segments — identical to
    # the corpus-recheck path and the naive plan. Segments WITHOUT
    # positions must refuse loudly, naming the kind.
    from prow_jobs_scraper_spark.search.dsl import DslError

    d1, d2, d3 = position_segments
    q = {"query": {"bool": {
        "must": [clause],
        "filter": [{"term": {"role": "assistant"}}],
    }}}
    want = search_dsl(docs, q, 10).toPandas()
    assert len(want) > 0, "vacuous: the clause matches nothing"
    got = search_dsl_indexed(spark, [d1, d2], q, 10).toPandas()
    _assert_rank_identical(got, want, "positions-multi")
    rechk = search_dsl_indexed(spark, [d1, d2], q, 10,
                               docs_df=docs).toPandas()
    _assert_rank_identical(rechk, want, "recheck-multi")

    with pytest.raises(DslError,
                       match=f"{kind} needs docs_df.*store_positions"):
        search_dsl_indexed(spark, [d1, d3], q, 10).toPandas()


def test_query_string_desugar_and_validation(spark, docs, docs_pdf,
                                             dsl_index):
    """query_string / simple_query_string (round 5): the desugared
    string equals the hand-written bool; field: overrides work on the
    naive executor and FAIL LOUD on the indexed one (the compressed
    index holds one text field — scoring a role-match against text
    postings would be silently wrong); out-of-grammar syntax raises."""
    from prow_jobs_scraper_spark.search.query_string import (
        parse_query_string,
    )

    # pinned desugaring
    got = parse_query_string({"query": "a AND b -c"})
    assert got == {"bool": {
        "must": [{"match": {"text": {"query": "a", "operator": "or"}}},
                 {"match": {"text": {"query": "b", "operator": "or"}}}],
        "must_not": [{"match": {"text": {"query": "c",
                                         "operator": "or"}}}]}}
    assert parse_query_string({"query": '"a b"~2'}) == {"bool": {"must": [
        {"match_phrase": {"text": {"query": "a b", "slop": 2}}}]}}

    # string form == hand-written bool, end-to-end on both executors
    qs = {"query": {"query_string": {
        "query": "the_hot_term AND (agent OR tool_call) -w00042"}}}
    hand = {"query": {"bool": {
        "must": [
            {"match": {"text": {"query": "the_hot_term",
                                "operator": "or"}}},
            {"bool": {"should": [{"match": {"text": "agent"}},
                                 {"match": {"text": "tool_call"}}],
                      "minimum_should_match": 1}}],
        "must_not": [{"match": {"text": "w00042"}}]}}}
    a = search_dsl(docs, qs, 10).toPandas()
    b = search_dsl(docs, hand, 10).toPandas()
    _assert_rank_identical(a, b, "query_string==bool")

    # field: override runs on the naive executor...
    qf = {"query": {"query_string": {"query": "spark AND role:assistant"}}}
    got = search_dsl(docs, qf, 10).toPandas()
    want = dsl_oracle(docs_pdf, qf, 10)
    _assert_rank_identical(got, want, "query_string-field-override")
    # ...and fails loud on the indexed one (single indexed text field)
    with pytest.raises(DslError, match="text clauses target"):
        search_dsl_indexed(spark, dsl_index, qf, 10,
                           docs_df=docs).toPandas()

    # out-of-grammar syntax / options raise
    for body, simple in (
        ({"query": "ha*sh"}, False),
        ({"query": "a~2"}, False),
        ({"query": "a +b"}, False),
        ({"query": "role:x"}, True),
        ({"query": "(a"}, False),
        ({"query": 'a"unbalanced'}, False),
        ({"query": "a", "fuzziness": 1}, False),
        ({"query": "a", "fields": ["x", "y"]}, True),
        ({"query": "a", "fields": ["text^2"]}, False),
        ({"query": "   "}, False),
        ({"query": "AND a"}, False),
    ):
        kind = "simple_query_string" if simple else "query_string"
        with pytest.raises(DslError):
            parse_query({kind: body})


def test_range_date_math(spark, docs, docs_pdf, dsl_index):
    """ES date math in range values (round 5): anchored form
    `<iso>||<math>` and `now<math>` resolve at compile time to plain
    timestamp literals (engine-portable, pushdown-able); /unit rounds
    DOWN for gte/lt and UP for gt/lte (the ES range rule; engine
    rounds to second resolution). Malformed math fails loud."""
    import datetime as dt

    from prow_jobs_scraper_spark.search import dsl as dsl_mod
    from prow_jobs_scraper_spark.search.dsl import _resolve_date_math

    # pinned resolution semantics
    assert _resolve_date_math("2025-06-01||+1w", "gte") == \
        dt.datetime(2025, 6, 8)
    assert _resolve_date_math("2025-06-15||/M", "gte") == \
        dt.datetime(2025, 6, 1)
    assert _resolve_date_math("2025-06-15||/M", "lte") == \
        dt.datetime(2025, 6, 30, 23, 59, 59)
    assert _resolve_date_math("2025-06-11||/w", "lt") == \
        dt.datetime(2025, 6, 9)  # Monday
    assert _resolve_date_math("2025-01-31||+1M", "gte") == \
        dt.datetime(2025, 2, 28)  # ES clamps month-end
    assert _resolve_date_math("2025-06-10T12:34:56||-90m/h", "gt") == \
        dt.datetime(2025, 6, 10, 11, 59, 59)
    assert _resolve_date_math(42, "gte") == 42  # non-strings untouched
    assert _resolve_date_math("2025-06-01", "gte") == "2025-06-01"

    # `now` resolves through the injectable clock
    old = dsl_mod._NOW_FN
    dsl_mod._NOW_FN = lambda: dt.datetime(2025, 6, 10, 12, 0, 0)
    try:
        assert _resolve_date_math("now-1d/d", "gte") == \
            dt.datetime(2025, 6, 9)
        # end-to-end: now-anchored window == the explicit window, on
        # both executors and vs the oracle
        qm = {"query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "filter": [{"range": {"ts": {"gte": "now-7d/d",
                                         "lt": "now/d"}}}]}}}
        qe = {"query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "filter": [{"range": {"ts": {
                "gte": "2025-06-03", "lt": "2025-06-10"}}}]}}}
        a = search_dsl(docs, qm, 10).toPandas()
        b = search_dsl(docs, qe, 10).toPandas()
        _assert_rank_identical(a, b, "date-math==explicit")
        want = dsl_oracle(docs_pdf, qm, 10)
        _assert_rank_identical(a, want, "date-math-vs-oracle")
        gi = search_dsl_indexed(spark, dsl_index, qm, 10,
                                docs_df=docs).toPandas()
        _assert_rank_identical(gi, want, "date-math-indexed")
    finally:
        dsl_mod._NOW_FN = old

    for bad in ("2025-06-01||+1x", "2025-06-01||1d", "nowish",
                "not-a-date||/d", "2025-06-01||/q", "now-1d extra"):
        with pytest.raises(DslError):
            parse_query({"range": {"ts": {"gte": bad}}})


def test_indexed_meta_fields_validated_against_doc_stats(spark, docs,
                                                         dsl_index):
    """A metadata clause naming a column no segment persisted raises a
    friendly DslError naming the field (ADVICE r4) instead of an opaque
    AnalysisException — in every indexed entry point and context
    (filter, should, must_not, nested), and in the aggs/scan twins."""
    from prow_jobs_scraper_spark.search.dsl import (
        count_dsl_indexed,
        dsl_aggregate_indexed,
        scan_dsl_indexed,
        search_dsl_many_indexed,
    )

    base_must = [{"match": {"text": "spark"}}]
    shapes = [
        {"bool": {"must": base_must,
                  "filter": [{"term": {"nope_col": "x"}}]}},
        {"bool": {"must": base_must,
                  "should": [{"range": {"ghost": {"gte": 1}}}],
                  "minimum_should_match": 0}},
        {"bool": {"must": base_must,
                  "must_not": [{"exists": {"field": "missing_col"}}]}},
        {"bool": {"must": [{"bool": {
            "filter": [{"prefix": {"typo_field": "a"}}]}}]}},
    ]
    for q in shapes:
        with pytest.raises(DslError, match="doc_stats"):
            search_dsl_indexed(spark, dsl_index, {"query": q}, 5,
                               docs_df=docs).toPandas()
    q = {"query": shapes[0]}
    with pytest.raises(DslError, match="nope_col"):
        scan_dsl_indexed(spark, dsl_index, q).toPandas()
    with pytest.raises(DslError, match="nope_col"):
        count_dsl_indexed(spark, dsl_index, q).toPandas()
    with pytest.raises(DslError, match="nope_col"):
        dsl_aggregate_indexed(spark, dsl_index, {
            **q, "aggs": {"a": {"terms": {"field": "role"}}}}).toPandas()
    with pytest.raises(DslError, match="nope_col"):
        search_dsl_many_indexed(spark, dsl_index, [
            {"query_id": "a", "query": q["query"], "size": 3}]).toPandas()
    # dotted access validates the ROOT column; a valid field still works
    ok = {"query": {"bool": {"must": base_must,
                             "filter": [{"term": {"role": "user"}}]}}}
    assert search_dsl_indexed(spark, dsl_index, ok, 5,
                              docs_df=docs).count() >= 0


def test_sloppy_phrase_handcrafted_semantics(spark):
    """The Lucene sloppy-phrase rule on pinned cases (ES docs:
    'transposed terms have a slop of 2'): displacement-range
    qualification, distinct positions for repeated terms, slop 0 ==
    exact adjacency."""
    rows = [
        (0, "a b"),        # exact
        (1, "a x b"),      # one gap -> slop 1
        (2, "b a"),        # transposed -> slop 2
        (3, "b x x a"),    # transposed + gaps -> slop 4
        (4, "a"),          # missing term -> never
        (5, "a a"),        # for the repeated-term phrase "a a"
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def hits(q):
        return sorted(search_dsl(docs, q, 100).toPandas()["doc_id"])

    def phrase(text, slop):
        return {"query": {"match_phrase": {"text": {"query": text,
                                                    "slop": slop}}}}

    assert hits(phrase("a b", 0)) == [0]
    assert hits(phrase("a b", 1)) == [0, 1]
    assert hits(phrase("a b", 2)) == [0, 1, 2]
    assert hits(phrase("a b", 3)) == [0, 1, 2]
    assert hits(phrase("a b", 4)) == [0, 1, 2, 3]
    # repeated term needs two DISTINCT positions: doc 5 only
    assert hits(phrase("a a", 1)) == [5]
    assert hits(phrase("a a", 4)) == [5]
    # brute-force oracle agrees on every case
    for text, slop in (("a b", 0), ("a b", 1), ("a b", 2), ("a b", 4),
                       ("a a", 1)):
        seq = tokenize_text(text)
        want = sorted(d for d, t in rows
                      if _sloppy_match_py(tokenize_text(t), seq, slop))
        assert hits(phrase(text, slop)) == want, (text, slop)


def _span_match_py(tokens: list[str], seq: list[str], slop: int,
                   in_order: bool) -> bool:
    """Brute-force Lucene SpanNearQuery rule over width-1 spans,
    independent of the engine: ordered = strictly increasing positions
    with p_k - p_1 - (k-1) <= slop; unordered = distinct positions for
    equal-term slots with max - min - (k-1) <= slop."""
    from itertools import product
    pos = {t: [i for i, x in enumerate(tokens) if x == t]
           for t in set(seq)}
    if any(not pos[t] for t in seq):
        return False
    for choice in product(*[pos[t] for t in seq]):
        if in_order:
            if any(choice[j] >= choice[j + 1]
                   for j in range(len(seq) - 1)):
                continue
        elif any(seq[j] == seq[kk] and choice[j] == choice[kk]
                 for j in range(len(seq))
                 for kk in range(j + 1, len(seq))):
            continue
        if max(choice) - min(choice) - (len(seq) - 1) <= slop:
            return True
    return False


def test_span_near_handcrafted_semantics(spark):
    """ES span_near over span_term clauses (desugared onto the phrase
    machinery with the Lucene SpanNearQuery window rule — NOT the
    sloppy-phrase displacement rule): ordered/unordered at every slop
    including 0 (unordered slop 0 = adjacency either direction);
    repeated-term clauses need distinct occurrences; span_term alone
    degenerates to a single-term match; grammar misuse fails loud."""
    rows = [
        (0, "a b c"),       # ordered adjacent
        (1, "b a c"),       # reversed adjacent
        (2, "a x x b"),     # ordered gap 2
        (3, "b x a"),       # reversed gap 1
        (4, "a"),           # missing term
        (5, "a a"),         # repeated occurrences
        (6, "a b a"),       # dup + both orders
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def hits(slop, in_order, terms=("a", "b")):
        q = {"query": {"span_near": {
            "clauses": [{"span_term": {"text": t}} for t in terms],
            "slop": slop, "in_order": in_order}}}
        return sorted(search_dsl(docs, q, 100).toPandas()["doc_id"])

    assert hits(0, True) == [0, 6]
    assert hits(2, True) == [0, 2, 6]
    assert hits(0, False) == [0, 1, 6]
    assert hits(1, False) == [0, 1, 3, 6]
    # repeated-term clauses: distinct occurrences required
    assert hits(1, False, ("a", "a")) == [5, 6]
    assert hits(1, True, ("a", "a")) == [5, 6]  # 6: positions 0, 2
    assert hits(0, True, ("a", "a")) == [5]
    # brute-force oracle agrees on every shape
    for slop in (0, 1, 2, 4):
        for in_order in (True, False):
            for terms in (("a", "b"), ("a", "a"), ("a", "b", "c"),
                          ("c", "a")):
                want = sorted(
                    d for d, t in rows
                    if _span_match_py(tokenize_text(t), list(terms),
                                      slop, in_order))
                assert hits(slop, in_order, terms) == want, \
                    (slop, in_order, terms)

    # span_term alone == a single-term conjunctive match
    st = search_dsl(docs, {"query": {"span_term": {"text": "b"}}},
                    100).toPandas()
    tm = search_dsl(docs, {"query": {"match": {"text": {
        "query": "b", "operator": "and"}}}}, 100).toPandas()
    pd.testing.assert_frame_equal(st, tm)

    for bad in (
        {"span_near": {"clauses": [{"span_term": {"text": "a"}}],
                       "in_order": True}},            # slop required
        {"span_near": {"clauses": [{"span_term": {"text": "a"}}],
                       "slop": 1}},                   # in_order required
        {"span_near": {"clauses": [], "slop": 1, "in_order": True}},
        {"span_near": {"clauses": [{"span_term": {"text": "a"}},
                                   {"span_term": {"role": "b"}}],
                       "slop": 1, "in_order": True}},  # mixed fields
        {"span_near": {"clauses": [{"span_term": {"text": "a b"}}],
                       "slop": 1, "in_order": True}},  # multi-token
        {"span_near": {"clauses": [{"match": {"text": "a"}}],
                       "slop": 1, "in_order": True}},  # non-span clause
        {"span_near": {"clauses": [{"span_term": {"text": "a"}}],
                       "slop": 1, "in_order": True,
                       "gap": 3}},                     # unknown option
        {"span_term": {"text": {"value": "a", "boost": 2}}},
    ):
        with pytest.raises(DslError):
            search_dsl(docs, {"query": bad}, 10)


def test_span_near_indexed_and_positions(spark, docs, dsl_index,
                                         tmp_path_factory):
    """span_near on the indexed executor: corpus-fallback (docs_df)
    AND the positions sidecar (docs_df=None) must be rank+score
    identical to the naive plan, both orders; unordered widens the
    ordered result set."""
    def q(in_order, slop=3):
        return {"query": {"span_near": {
            "clauses": [{"span_term": {"text": "the_hot_term"}},
                        {"span_term": {"text": "spark"}}],
            "slop": slop, "in_order": in_order}}}

    d = str(tmp_path_factory.mktemp("dsl_span_pos"))
    build_index(spark, docs, d,
                BuildConfig(n_ranges=8, n_buckets=4,
                            store_positions=True))
    for in_order in (True, False):
        want = search_dsl(docs, q(in_order), 10).toPandas()
        got = search_dsl_indexed(spark, dsl_index, q(in_order), 10,
                                 docs_df=docs).toPandas()
        _assert_rank_identical(got, want,
                               f"span-indexed-fallback-{in_order}")
        gp = search_dsl_indexed(spark, d, q(in_order), 10).toPandas()
        _assert_rank_identical(gp, want, f"span-positions-{in_order}")

    ordered = set(search_dsl(docs, q(True), 10_000)
                  .toPandas()["doc_id"])
    unordered = set(search_dsl(docs, q(False), 10_000)
                    .toPandas()["doc_id"])
    assert ordered <= unordered


def test_sloppy_phrase_indexed_and_positions(spark, docs, dsl_index,
                                             tmp_path_factory):
    """slop in the indexed executor: corpus-fallback (docs_df) AND the
    positions sidecar (docs_df=None) must be rank+score identical to
    the naive plan; slop widens the exact-phrase result set."""
    q1 = {"query": {"match_phrase": {
        "text": {"query": "the_hot_term spark", "slop": 2}}}}
    q0 = {"query": {"match_phrase": {"text": "the_hot_term spark"}}}

    want = search_dsl(docs, q1, 10).toPandas()
    got = search_dsl_indexed(spark, dsl_index, q1, 10,
                             docs_df=docs).toPandas()
    _assert_rank_identical(got, want, "slop-indexed-fallback")

    d = str(tmp_path_factory.mktemp("dsl_slop_pos"))
    build_index(spark, docs, d,
                BuildConfig(n_ranges=8, n_buckets=4, store_positions=True))
    gp = search_dsl_indexed(spark, d, q1, 10).toPandas()
    _assert_rank_identical(gp, want, "slop-positions")

    # slop-2 qualifiers are a superset of exact-phrase qualifiers
    exact = set(search_dsl(docs, q0, 10_000).toPandas()["doc_id"])
    sloppy = set(search_dsl(docs, q1, 10_000).toPandas()["doc_id"])
    assert exact <= sloppy

    # search_phrase slop param: positions and corpus paths agree
    from prow_jobs_scraper_spark.search.compressed import search_phrase
    a = search_phrase(spark, d, None, "the_hot_term spark", 10,
                      slop=2).toPandas()
    b = search_phrase(spark, d, docs, "the_hot_term spark", 10,
                      slop=2).toPandas()
    _assert_rank_identical(a, b, "search_phrase-slop-paths")
    _assert_rank_identical(a, want, "search_phrase-vs-dsl")

    from prow_jobs_scraper_spark.search.naive import naive_phrase_topk
    nv = naive_phrase_topk(docs, "the_hot_term spark", 10,
                           slop=2).toPandas()
    _assert_rank_identical(nv, want, "naive_phrase_topk-slop")


def test_dsl_multi_segment_pure_filter(spark, docs, dsl_segments):
    q = {"query": {"bool": {"filter": [{"term": {"role": "tool"}}]}}}
    got = search_dsl_indexed(spark, dsl_segments, q, 10).toPandas()
    want = search_dsl(docs, q, 10).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


# --------------------------------------------------------------------------
# 6. whole-request executor (`_search` endpoint shape: size/from/aggs)
# --------------------------------------------------------------------------

from prow_jobs_scraper_spark.search.dsl import execute_request  # noqa: E402


def test_execute_request_size_from_pagination(spark, docs):
    q = {"query": {"match": {"text": {"query": "spark agent",
                                      "operator": "or"}}}}
    full = execute_request(docs, {**q, "size": 10}).toPandas()
    assert len(full) == 10
    page2 = execute_request(docs, {**q, "size": 4, "from": 4}).toPandas()
    assert page2["doc_id"].tolist() == full["doc_id"].tolist()[4:8]
    np.testing.assert_allclose(page2["score"], full["score"][4:8], rtol=1e-12)


def test_execute_request_defaults_and_aggs_dispatch(spark, docs):
    # no query -> match_all, size default 10
    r = execute_request(docs, {}).toPandas()
    assert len(r) == 10 and (r["score"] == 0.0).all()
    # aggs requests route to dsl_aggregate
    a = execute_request(docs, {
        "query": {"bool": {"filter": [{"term": {"role": "user"}}]}},
        "aggs": {"n": {"value_count": {"field": "role"}}},
    }).toPandas()
    assert list(a.columns) == ["n"]
    with pytest.raises(DslError):
        execute_request(docs, {"size": -1})


# --------------------------------------------------------------------------
# 7. indexed aggs + request executor (the scale path: no corpus access)
# --------------------------------------------------------------------------

from prow_jobs_scraper_spark.search.dsl import (  # noqa: E402
    dsl_aggregate_indexed,
    execute_request_indexed,
)

AGG_REQUESTS = [
    ("terms+metric", {
        "query": {"match": {"text": {"query": "the_hot_term",
                                     "operator": "and"}}},
        "aggs": {"by_role": {"terms": {"field": "role", "size": 10},
                 "aggs": {"avg_turn": {"avg": {"field": "turn_idx"}}}}},
    }),
    ("weekly-histogram", {
        "query": {"bool": {"filter": [{"term": {"role": "assistant"}}]}},
        "aggs": {"per_week": {"date_histogram": {
            "field": "ts", "calendar_interval": "week"}}},
    }),
    ("bare-metric", {
        "query": {"match": {"text": {"query": "the_hot_term",
                                     "operator": "and"}}},
        "aggs": {"max_turn": {"max": {"field": "turn_idx"}}},
    }),
    ("provably-empty", {
        "query": {"match": {"text": {"query": "zzz_never_appears",
                                     "operator": "and"}}},
        "aggs": {"by_role": {"terms": {"field": "role"}}},
    }),
    ("scored-bool-agg", {
        "query": {"bool": {
            "must": [{"match": {"text": {"query": "spark agent",
                                         "operator": "or"}}}],
            "must_not": [{"range": {"turn_idx": {"gte": 80}}}],
        }},
        "aggs": {"by_tool": {"terms": {"field": "tool", "size": 5}}},
    }),
    ("empty-bool", {
        "query": {"bool": {}},
        "aggs": {"by_role": {"terms": {"field": "role"}}},
    }),
]


def _agg_frames_equal(got, want, label):
    assert list(got.columns) == list(want.columns), label
    assert len(got) == len(want), label
    for c in got.columns:
        g, w = got[c], want[c]
        if str(g.dtype).startswith("datetime"):
            assert pd.to_datetime(g).tolist() == \
                pd.to_datetime(w).tolist(), f"{label}:{c}"
        elif g.dtype.kind == "f":
            np.testing.assert_allclose(g, w, rtol=1e-12,
                                       err_msg=f"{label}:{c}")
        else:
            assert g.tolist() == w.tolist(), f"{label}:{c}"


@pytest.mark.parametrize("label,req", AGG_REQUESTS,
                         ids=[x[0] for x in AGG_REQUESTS])
def test_dsl_aggregate_indexed_matches_naive(spark, docs, dsl_index,
                                             dsl_segments, label, req):
    # ES rule: aggs run over the FULL qualifying set, resolved here
    # from the index + doc_stats with the corpus never read — must
    # equal the naive full-scan executor, single index AND segment list
    want = dsl_aggregate(docs, req).toPandas()
    got = dsl_aggregate_indexed(spark, dsl_index, req).toPandas()
    _agg_frames_equal(got, want, f"mono:{label}")
    got2 = dsl_aggregate_indexed(spark, dsl_segments, req).toPandas()
    _agg_frames_equal(got2, want, f"multi:{label}")


def test_execute_request_indexed_matches_naive(spark, docs, dsl_index):
    q = {"query": {"match": {"text": {"query": "spark agent",
                                      "operator": "or"}}}}
    for req in ({**q, "size": 10}, {**q, "size": 4, "from": 4}, {}):
        want = execute_request(docs, req).toPandas()
        got = execute_request_indexed(spark, dsl_index, req).toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), req
        np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)
    # aggs dispatch
    a = execute_request_indexed(spark, dsl_index, {
        **q, "aggs": {"n": {"value_count": {"field": "role"}}}}).toPandas()
    wa = execute_request(docs, {
        **q, "aggs": {"n": {"value_count": {"field": "role"}}}}).toPandas()
    assert int(a["n"].iloc[0]) == int(wa["n"].iloc[0])
    with pytest.raises(DslError):
        execute_request_indexed(spark, dsl_index, {"from": -1})


_GQ = {"match": {"text": "spark"}}
_GHL = {"fields": {"text": {}}, "number_of_fragments": 0}
_GAGG = {"g": {"terms": {"field": "role"}}}
_GKNN = {"field": "vec", "query_vector": [1.0, 0.0], "k": 3}
_GRS = {"query": {"rescore_query": _GQ}}
_GCOL = {"field": "role"}
_GSF = {"x": {"script": "doc['turn_idx'].value"}}
_HL_MSG = "highlight cannot be combined"
_AGG_MSG = "aggs requests return buckets only"
_RS_MSG = "rescore cannot be combined"
_SRC_MSG = "_source/script_fields are supported"
_KNN_MSG = "knn combines with query/size/from only"
GUARD_CASES = [
    ({"highlight": _GHL, "sort": ["turn_idx"]}, _HL_MSG),
    ({"highlight": _GHL, "collapse": _GCOL}, _HL_MSG),
    ({"highlight": _GHL, "rescore": _GRS}, _HL_MSG),
    ({"aggs": _GAGG, "sort": ["turn_idx"]}, _AGG_MSG),
    ({"aggs": _GAGG, "search_after": [1]}, _AGG_MSG),
    ({"aggs": _GAGG, "collapse": _GCOL}, _AGG_MSG),
    ({"aggs": _GAGG, "rescore": _GRS}, _AGG_MSG),
    ({"aggs": _GAGG, "highlight": _GHL}, _AGG_MSG),
    ({"collapse": _GCOL, "search_after": [1]},
     "collapse with search_after is not supported"),
    ({"rescore": _GRS, "sort": ["turn_idx"]}, _RS_MSG),
    ({"rescore": _GRS, "collapse": _GCOL}, _RS_MSG),
    ({"rescore": _GRS, "search_after": [1.0, 1]}, _RS_MSG),
    ({"sort": ["turn_idx"], "search_after": [1]},
     "search_after with a custom sort is not supported"),
    ({"search_after": [1.0, 1], "from": 2},
     "search_after cannot be combined with from"),
    ({"size": -1}, "size/from must be non-negative"),
    ({"from": -1}, "size/from must be non-negative"),
    ({"_source": ["role"], "sort": ["turn_idx"]}, _SRC_MSG),
    ({"_source": ["role"], "aggs": _GAGG}, _SRC_MSG),
    ({"_source": ["role"], "knn": _GKNN}, _SRC_MSG),
    ({"_source": ["role"], "rescore": _GRS}, _SRC_MSG),
    ({"_source": ["role"], "collapse": _GCOL}, _SRC_MSG),
    ({"script_fields": _GSF, "sort": ["turn_idx"]}, _SRC_MSG),
    ({"script_fields": _GSF, "aggs": _GAGG}, _SRC_MSG),
    ({"script_fields": _GSF, "knn": _GKNN}, _SRC_MSG),
    ({"script_fields": _GSF, "rescore": _GRS}, _SRC_MSG),
    ({"script_fields": _GSF, "collapse": _GCOL}, _SRC_MSG),
    ({"knn": _GKNN, "aggs": _GAGG}, _KNN_MSG),
    ({"knn": _GKNN, "sort": ["turn_idx"]}, _KNN_MSG),
    # a script field may not overwrite a requested _source/fields column
    ({"_source": ["role"],
      "script_fields": {"role": {"script": "doc['turn_idx'].value"}}},
     "script_fields name 'role' collides"),
    ({"fields": ["turn_idx"],
      "script_fields": {"turn_idx": {"script": "doc['turn_idx'].value"}}},
     "script_fields name 'turn_idx' collides"),
]


@pytest.mark.parametrize("executor", ["naive", "indexed"])
@pytest.mark.parametrize("request_body,message", GUARD_CASES,
                         ids=["+".join(r) for r, _ in GUARD_CASES])
def test_request_guards_match_across_executors(
        spark, docs, dsl_index, executor, request_body, message):
    """Every `_search` combination guard raises the same DslError on
    the naive and the indexed executor."""
    import re  # noqa: PLC0415

    req = {"query": _GQ, **request_body}
    with pytest.raises(DslError, match=re.escape(message)):
        if executor == "naive":
            execute_request(docs, req)
        else:
            execute_request_indexed(spark, dsl_index, req, docs_df=docs)


# --------------------------------------------------------------------------
# 8. scan (the reference's helpers.scan shape) + search_after paging
# --------------------------------------------------------------------------

from prow_jobs_scraper_spark.search.dsl import (  # noqa: E402
    scan_dsl,
    scan_dsl_indexed,
)


def test_scan_dsl_full_qualifying_set(spark, docs, docs_pdf, dsl_index,
                                      dsl_segments):
    # helpers.scan = ALL matches, no top-k (reference event.py:221-227,
    # query.py:137, elasticsearch_cleanup/main.py:113). The naive scan
    # must equal a brute-force qualification; the indexed scan must
    # return the same doc_id set from doc_stats without the corpus.
    q = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark agent",
                                     "operator": "or"}}}],
        "filter": [{"term": {"role": "assistant"}}],
    }}}
    got = scan_dsl(docs, q).toPandas()
    assert list(got.columns) == list(docs.columns)  # doc rows, no score
    toks = tokenize_pandas(docs_pdf["text"]).tolist()
    hit = [("spark" in t or "agent" in t) for t in toks]
    want_ids = set(docs_pdf.loc[
        np.array(hit) & (docs_pdf["role"] == "assistant").to_numpy(),
        "doc_id"])
    assert set(got["doc_id"]) == want_ids
    assert len(got) == len(want_ids)  # no duplicates

    for idx, label in ((dsl_index, "mono"), (dsl_segments, "multi")):
        gi = scan_dsl_indexed(spark, idx, q).toPandas()
        assert set(gi["doc_id"]) == want_ids, label
        assert {"conv_id", "turn_idx", "dl", "role"} <= set(gi.columns)

    # match_all scan = whole corpus
    assert scan_dsl(docs, {"query": {"match_all": {}}}).count() == \
        len(docs_pdf)
    assert scan_dsl_indexed(
        spark, dsl_index, {"query": {"match_all": {}}}).count() == \
        len(docs_pdf)
    # provably-empty scan
    qz = {"query": {"match": {"text": {"query": "zzz_never_appears",
                                       "operator": "and"}}}}
    assert scan_dsl(docs, qz).count() == 0
    assert scan_dsl_indexed(spark, dsl_index, qz).count() == 0


def test_search_after_pages_through_everything(spark, docs, dsl_index):
    # ES search_after: O(size) deep paging. Chasing the cursor through
    # the WHOLE result set must reproduce the one-shot ranking exactly,
    # on both executors; pages are disjoint and in order.
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
    )

    # rare terms keep the full set small enough to page through with a
    # Spark job per page; >2 pages still exercises the cursor math
    q = {"query": {"match": {"text": {"query": "w00042 w00099",
                                      "operator": "or"}}}}
    full = execute_request(docs, {**q, "size": 100000}).toPandas()
    assert len(full) > 15

    for runner in (
        lambda req: execute_request(docs, req).toPandas(),
        lambda req: execute_request_indexed(spark, dsl_index,
                                            req).toPandas(),
    ):
        pages, after = [], None
        for _ in range(1 + len(full) // 7 + 1):
            req = {**q, "size": 7}
            if after is not None:
                req["search_after"] = after
            page = runner(req)
            if not len(page):
                break
            pages.append(page)
            # column access keeps int64 — a row view (.iloc[-1]) would
            # upcast doc_id to float64 and corrupt the cursor
            after = [float(page["score"].iloc[-1]),
                     int(page["doc_id"].iloc[-1])]
        paged = pd.concat(pages, ignore_index=True)
        assert paged["doc_id"].tolist() == full["doc_id"].tolist()
        np.testing.assert_allclose(paged["score"], full["score"],
                                   rtol=1e-12)

    # unscored (pure filter) cursor = [doc_id]
    qf = {"query": {"bool": {"filter": [{"term": {"role": "tool"}}]}}}
    f_full = execute_request(docs, {**qf, "size": 100000}).toPandas()
    p1 = execute_request(docs, {**qf, "size": 5}).toPandas()
    p2 = execute_request(docs, {
        **qf, "size": 100000,
        "search_after": [int(p1["doc_id"].iloc[-1])]}).toPandas()
    assert p1["doc_id"].tolist() + p2["doc_id"].tolist() == \
        f_full["doc_id"].tolist()

    # ES rule: search_after + from is an error
    with pytest.raises(DslError):
        execute_request(docs, {**q, "from": 3, "search_after": [1.0, 0]})


def test_count_dsl_matches_scan(spark, docs, docs_pdf, dsl_index,
                                dsl_segments):
    # ES _count: qualifying-set size, scoring skipped. Must equal the
    # scan's row count on naive + mono-index + multi-segment executors.
    from prow_jobs_scraper_spark.search.dsl import (
        count_dsl,
        count_dsl_indexed,
    )

    qs = [
        {"query": {"bool": {
            "must": [{"match": {"text": {"query": "spark agent",
                                         "operator": "or"}}}],
            "filter": [{"term": {"role": "assistant"}}]}}},
        {"query": {"match_all": {}}},
        {"query": {"match": {"text": {"query": "zzz_never_appears",
                                      "operator": "and"}}}},
    ]
    for q in qs:
        want = scan_dsl(docs, q).count()
        got = count_dsl(docs, q).toPandas()
        assert list(got.columns) == ["count"]
        assert int(got["count"].iloc[0]) == want
        for idx in (dsl_index, dsl_segments):
            gi = count_dsl_indexed(spark, idx, q).toPandas()
            assert int(gi["count"].iloc[0]) == want
    assert int(count_dsl(docs, {"query": {"match_all": {}}})
               .toPandas()["count"].iloc[0]) == len(docs_pdf)


# --------------------------------------------------------------------------
# 8. cross-clause block-max pruning gate (round 4: VERDICT #2)
# --------------------------------------------------------------------------

def _decode_counter(monkeypatch):
    import prow_jobs_scraper_spark.search.compressed as C

    calls = {"n_blocks": 0}
    real = C.codec.decode_blocks_bulk

    def counting(n_docs, *a, **kw):
        calls["n_blocks"] += len(n_docs)
        return real(n_docs, *a, **kw)

    monkeypatch.setattr(C.codec, "decode_blocks_bulk", counting)
    return calls


@pytest.fixture(scope="module")
def bool_prune_fixture(spark, docs, tmp_path_factory):
    """Single-salt index with tiny blocks so the hot term spans many
    blocks, plus the hot/rare block frames and global stats."""
    import json as _json

    import prow_jobs_scraper_spark.search.compressed as C
    from prow_jobs_scraper_spark.functions.xxh64 import term_id_py

    d = str(tmp_path_factory.mktemp("bool_prune") / "idx")
    build_index(spark, docs, d,
                BuildConfig(n_ranges=1, n_buckets=2, block_size=16))
    paths = C.IndexPaths(d)
    with open(paths.meta) as f:
        meta = _json.load(f)
    tids = {t: term_id_py(t) for t in ("the_hot_term", "w01000")}
    blocks = (
        spark.read.parquet(paths.postings)
        .where(C.F.col("term_id").isin(list(tids.values())))
        .toPandas()
    )
    stats = spark.read.parquet(paths.term_stats).where(
        C.F.col("term_id").isin(list(tids.values()))).collect()
    dfs = {int(r["term_id"]): int(r["df"]) for r in stats}
    idfs = {tid: math.log(1.0 + (meta["n_docs"] - dfs[tid] + 0.5)
                          / (dfs[tid] + 0.5)) for tid in dfs}
    return d, meta, tids, blocks, idfs


def test_bool_anchor_prunes_hot_should_term(spark, docs,
                                            bool_prune_fixture,
                                            monkeypatch):
    """must: rare term, should: HOT term — the round-3 flagged shape.
    The anchor strategy must enumerate candidates from the rare must
    clause and decode only the hot blocks containing those candidates,
    never walking the hot list."""
    import numpy as _np

    import prow_jobs_scraper_spark.search.compressed as C

    d, meta, tids, blocks, idfs = bool_prune_fixture
    total_blocks = len(blocks)
    assert total_blocks > 20, "fixture too small to demonstrate pruning"
    calls = _decode_counter(monkeypatch)
    by_term = {t: g for t, g in blocks.groupby("term_id")}
    clauses = [(True, True, _np.array([tids["w01000"]])),
               (False, False, _np.array([tids["the_hot_term"]]))]
    ids, scores = C._wand_bool_topk(by_term, idfs, clauses, 0, 5,
                                    meta["avgdl"], meta["k1"], meta["b"])
    assert ids.size > 0
    assert calls["n_blocks"] < total_blocks * 0.3, (
        f"anchor pruning ineffective ({calls['n_blocks']}/{total_blocks})")
    # rank+score identity with the naive executor on the same query
    q = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "w01000",
                                     "operator": "and"}}}],
        "should": [{"match": {"text": "the_hot_term"}}],
    }}}
    got = search_dsl_indexed(spark, d, q, 5).toPandas()
    want = search_dsl(docs, q, 5).toPandas()
    _assert_rank_identical(got, want, "anchor-pruned")


def test_bool_maxscore_prunes_should_only(spark, docs,
                                          bool_prune_fixture,
                                          monkeypatch):
    """should-only hot+rare: after the rare clause seeds the top-k, the
    suffix bound cuts the hot clause — its untouched blocks are never
    decoded (the MaxScore arm of _wand_bool_topk)."""
    import numpy as _np

    import prow_jobs_scraper_spark.search.compressed as C

    d, meta, tids, blocks, idfs = bool_prune_fixture
    total_blocks = len(blocks)
    calls = _decode_counter(monkeypatch)
    by_term = {t: g for t, g in blocks.groupby("term_id")}
    clauses = [(False, False, _np.array([tids["the_hot_term"]])),
               (False, False, _np.array([tids["w01000"]]))]
    ids, scores = C._wand_bool_topk(by_term, idfs, clauses, 1, 3,
                                    meta["avgdl"], meta["k1"], meta["b"])
    assert ids.size == 3
    assert calls["n_blocks"] < total_blocks * 0.6, (
        f"MaxScore pruning ineffective "
        f"({calls['n_blocks']}/{total_blocks})")
    q = {"query": {"bool": {"should": [
        {"match": {"text": "the_hot_term"}},
        {"match": {"text": "w01000"}},
    ]}}}
    got = search_dsl_indexed(spark, d, q, 3).toPandas()
    want = search_dsl(docs, q, 3).toPandas()
    _assert_rank_identical(got, want, "maxscore-pruned")


def test_pruned_path_is_taken_and_fallback_shapes_are_not(spark):
    """_prunable_for_topk routes exactly the supported shapes."""
    from prow_jobs_scraper_spark.search.dsl import _prunable_for_topk

    ok = parse_query({"bool": {
        "must": [{"match": {"text": {"query": "a b", "operator": "and"}}}],
        "should": [{"match": {"text": "c"}}],
    }})
    assert _prunable_for_topk(ok)
    assert _prunable_for_topk(parse_query({"bool": {"should": [
        {"match": {"text": "c"}}], "minimum_should_match": 2}}))
    # metadata filters / metadata must_nots ride the pruned path via
    # the co-grouped allowed set (round 4, second pass)
    assert _prunable_for_topk(parse_query(
        {"bool": {"must": [{"match": {"text": "a"}}],
                  "filter": [{"term": {"role": "x"}}]}}))
    assert _prunable_for_topk(parse_query(
        {"bool": {"must": [{"match": {"text": "a"}}],
                  "must_not": [{"range": {"turn_idx": {"gte": 5}}}]}}))
    # fallback shapes
    for q in (
        {"bool": {"must": [{"match_phrase": {"text": "a b"}}]}},
        {"bool": {"must": [{"match": {"text": "a"}}],
                  "filter": [{"match": {"text": "b"}}]}},  # text filter
        {"bool": {"must": [{"match": {"text": "a"}}],
                  "must_not": [{"match": {"text": "b"}}]}},  # text mn
        {"bool": {"should": [{"match": {"text": "a"}}],
                  "minimum_should_match": 0}},
        {"bool": {"must": [{"bool": {"must": [
            {"match": {"text": "a"}}]}}]}},
        {"match_all": {}},
    ):
        assert not _prunable_for_topk(parse_query(q)), q


# --------------------------------------------------------------------------
# 9. _msearch: batched DSL execution (round 4)
# --------------------------------------------------------------------------

def test_msearch_matches_per_query_search_dsl(spark, docs):
    from prow_jobs_scraper_spark.search.dsl import search_dsl_many

    reqs = [
        {"query_id": "a", "query": DSL_QUERIES[1][1]["query"], "size": 7},
        {"query_id": "b", "query": DSL_QUERIES[4][1]["query"]},
        {"query_id": "c",
         "query": {"bool": {"filter": [{"term": {"role": "tool"}}]}},
         "size": 5},
        {"query_id": "d",  # provably empty: contributes no rows
         "query": {"match": {"text": {"query": "zzz_never_appears",
                                      "operator": "and"}}}},
        {"query_id": "e",  # nested bool rides along
         "query": DSL_QUERIES[8][1]["query"], "size": 4},
    ]
    batch = search_dsl_many(docs, reqs).toPandas()
    assert (batch["query_id"] == "d").sum() == 0
    for r in reqs:
        if r["query_id"] == "d":
            continue
        want = search_dsl(docs, {"query": r["query"]},
                          r.get("size", 10)).toPandas()
        got = (batch[batch["query_id"] == r["query_id"]]
               .reset_index(drop=True))
        _assert_rank_identical(got, want, f"msearch:{r['query_id']}")
        assert len(got) > 0, r["query_id"]


def test_msearch_amortizes_stats_scans(spark, docs):
    """The batch runs ONE stats aggregation for all queries, so its
    total Spark-job count must undercut the per-query loop's (which
    pays one stats agg + one top-k per query)."""
    from prow_jobs_scraper_spark.search.dsl import search_dsl_many

    reqs = [{"query_id": f"q{i}",
             "query": {"match": {"text": t}}, "size": 3}
            for i, t in enumerate(["spark", "agent", "w00042",
                                   "the_hot_term"])]
    # count jobs in DEDICATED job groups — deltas of the default
    # group's id list go wrong once the UI's retained-jobs buffer
    # rolls over in a long test session (order-dependent flake)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("msearch-batch", "batch")
        search_dsl_many(docs, reqs).collect()
        sc.setJobGroup("msearch-loop", "loop")
        for r in reqs:
            search_dsl(docs, {"query": r["query"]}, 3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    batch_jobs = len(tracker.getJobIdsForGroup("msearch-batch") or [])
    loop_jobs = len(tracker.getJobIdsForGroup("msearch-loop") or [])
    assert 0 < batch_jobs < loop_jobs, (batch_jobs, loop_jobs)


def test_msearch_rejects_bad_requests(spark, docs):
    from prow_jobs_scraper_spark.search.dsl import search_dsl_many

    with pytest.raises(DslError):
        search_dsl_many(docs, [])
    with pytest.raises(DslError):
        search_dsl_many(docs, [{"query": {"match_all": {}}}])  # no id
    with pytest.raises(DslError):
        search_dsl_many(docs, [
            {"query_id": "x", "query": {"match_all": {}}},
            {"query_id": "x", "query": {"match_all": {}}}])  # dup id


# --------------------------------------------------------------------------
# 10. property-based: random nested bool trees, naive executor vs the
# recursive numpy/duckdb oracle (hypothesis — SURVEY.md §5 item 4 style)
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, Phase, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_VOCAB = ["spark", "agent", "the_hot_term", "w00042", "w00099", "w00005",
          "tool_call", "zzz_never_appears"]


def _leaf_clause(draw):
    kind = draw(st.sampled_from(["match", "match_phrase", "term", "range",
                                 "prefix", "wildcard"]))
    if kind == "match":
        terms = draw(st.lists(st.sampled_from(_VOCAB), min_size=1,
                              max_size=2))
        op = draw(st.sampled_from(["and", "or"]))
        return {"match": {"text": {"query": " ".join(terms),
                                   "operator": op}}}
    if kind == "match_phrase":
        terms = draw(st.lists(st.sampled_from(_VOCAB), min_size=1,
                              max_size=2))
        slop = draw(st.sampled_from([0, 0, 1, 2, 4]))
        if slop == 0 and len(terms) == 1:
            return {"match_phrase": {"text": terms[0]}}
        return {"match_phrase": {"text": {"query": " ".join(terms),
                                          "slop": slop}}}
    if kind == "term":
        return {"term": {"role": draw(st.sampled_from(
            ["user", "assistant", "tool", "system"]))}}
    if kind == "prefix":
        return {"prefix": {"role": draw(st.sampled_from(
            ["a", "us", "to", "sys", "zz"]))}}
    if kind == "wildcard":
        # `tool` carries NULLs: exercises the null-guard rules too
        return {"wildcard": {"tool": draw(st.sampled_from(
            ["b*h", "*er", "s??rch", "py*", "*zzz*"]))}}
    return {"range": {"turn_idx": {"gte": draw(
        st.integers(min_value=0, max_value=60))}}}


def _dismax_clause(draw):
    kids = [_leaf_clause_text(draw)
            for _ in range(draw(st.integers(min_value=1, max_value=2)))]
    return {"dis_max": {"queries": kids, "tie_breaker": draw(
        st.sampled_from([0.0, 0.3, 1.0]))}}


def _bool_query(draw, depth):
    body = {}
    for ctx in ("must", "filter", "should", "must_not"):
        n = draw(st.integers(min_value=0, max_value=2))
        clauses = []
        for _ in range(n):
            if depth > 0 and draw(st.booleans()):
                clauses.append({"bool": _bool_query(draw, depth - 1)})
            elif draw(st.integers(min_value=0, max_value=4)) == 0:
                clauses.append(_dismax_clause(draw))
            else:
                clauses.append(_leaf_clause(draw))
        if clauses:
            body[ctx] = clauses
    if "should" in body and draw(st.booleans()):
        body["minimum_should_match"] = draw(st.sampled_from(
            [0, 1, 2, -1, "50%", "100%"]))
    if not body:
        body["must"] = [_leaf_clause_text(draw)]
    return body


def _leaf_clause_text(draw):
    terms = draw(st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=2))
    return {"match": {"text": {"query": " ".join(terms),
                               "operator": draw(
                                   st.sampled_from(["and", "or"])),
                               "boost": draw(st.sampled_from(
                                   [1, 1, 2, 0.5]))}}}


def test_boost_scales_scores_and_flips_rank(spark, docs, docs_pdf,
                                            dsl_index):
    """boost multiplies the clause score in BOTH executors (the
    indexed path folds it into the idf), and a boosted rare term can
    outrank the unboosted hot ranking."""
    plain = {"query": {"bool": {"should": [
        {"match": {"text": "the_hot_term"}},
        {"match": {"text": "w00042"}}]}}}
    boosted = {"query": {"bool": {"should": [
        {"match": {"text": {"query": "the_hot_term", "boost": 0.25}}},
        {"match": {"text": {"query": "w00042", "boost": 4}}}]}}}
    a = search_dsl(docs, plain, 10).toPandas()
    b = search_dsl(docs, boosted, 10).toPandas()
    # boosting changes the score surface (top-k membership is corpus-
    # dependent, so pin the scores, not the order)
    assert not np.allclose(a["score"], b["score"])
    gi = search_dsl_indexed(spark, dsl_index, boosted, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, b, "boosted-indexed")
    # a single boosted match scales scores EXACTLY linearly
    one = {"query": {"match": {"text": {"query": "spark agent"}}}}
    two = {"query": {"match": {"text": {"query": "spark agent",
                                        "boost": 3.0}}}}
    s1 = search_dsl(docs, one, 10).toPandas()
    s2 = search_dsl(docs, two, 10).toPandas()
    assert s1["doc_id"].tolist() == s2["doc_id"].tolist()
    np.testing.assert_allclose(s2["score"], s1["score"] * 3.0, rtol=1e-12)
    with pytest.raises(DslError):
        parse_query({"match": {"text": {"query": "x", "boost": 0}}})
    with pytest.raises(DslError):
        parse_query({"match": {"text": {"query": "x", "boost": "2"}}})


def test_unknown_clause_options_fail_loud():
    """Unsupported ES options must raise DslError, never silently drop
    — an ignored fuzziness/analyzer would return silently-different
    results than the user's ES cluster."""
    for q in (
        # match fuzziness became SUPPORTED in round 5
        # (_desugar_match_fuzzy); a malformed fuzziness and
        # boost-with-fuzziness still fail loud
        {"match": {"text": {"query": "x", "fuzziness": "bad"}}},
        {"match": {"text": {"query": "x", "fuzziness": 1, "boost": 2.0}}},
        {"match": {"text": {"query": "x", "analyzer": "standard"}}},
        # slop is SUPPORTED since round 5; other phrase options and a
        # malformed slop still fail loud
        {"match_phrase": {"text": {"query": "x", "analyzer": "standard"}}},
        {"match_phrase": {"text": {"query": "x", "zero_terms_query": "all"}}},
        {"match_phrase": {"text": {"query": "x", "operator": "and"}}},
        {"match_phrase": {"text": {"query": "x", "slop": -1}}},
        {"match_phrase": {"text": {"query": "x", "slop": 1.5}}},
        {"match": {"text": {"query": "x", "slop": 2}}},
        {"multi_match": {"query": "x", "fields": ["text"],
                         "fuzziness": 1}},
        {"dis_max": {"queries": [{"match": {"text": "x"}}],
                     "boost": 2}},
        # case_insensitive became SUPPORTED in round 5 (the ES 7.10+
        # long-form knob); a non-bool flag, a numeric ci term, and the
        # other long-form options still fail loud
        {"term": {"role": {"value": "user", "case_insensitive": 1}}},
        {"term": {"n_chars": {"value": 7, "case_insensitive": True}}},
        {"prefix": {"role": {"value": "us", "rewrite": "top_terms_10"}}},
        {"wildcard": {"role": {"value": "u*", "boost": 2.0}}},
        {"regexp": {"role": {"value": "u.*", "flags": "ALL"}}},
        {"prefix": {"role": {"case_insensitive": True}}},  # no value
    ):
        with pytest.raises(DslError):
            parse_query(q)


def test_unknown_request_options_fail_loud(spark, docs, dsl_index):
    """_search body keys the engine can't honor (sort, highlight, ...)
    raise; response-metadata keys (track_total_hits, _source) pass."""
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
    )

    base = {"query": {"match": {"text": "spark"}}, "size": 3}
    ok = execute_request(docs, {**base, "track_total_hits": True,
                                "_source": ["text"]})
    assert ok.count() == 3
    # collapse is SUPPORTED since round 5; rescore/min_score/highlight
    # still fail loud
    with pytest.raises(DslError):
        execute_request(docs, {**base, "rescore": {}})
    with pytest.raises(DslError):
        execute_request(docs, {**base, "min_score": 0.5})
    with pytest.raises(DslError):
        execute_request_indexed(spark, dsl_index,
                                {**base, "highlight": {}})


def test_source_and_script_fields(spark, docs, docs_pdf, dsl_index):
    """_search `_source` (field list joined onto the hits page; bools
    stay documented no-ops) and `script_fields` (painless-subset
    scripts — doc values, params as literals, _score — computed on the
    page only). Values pinned against a pandas replay; indexed == naive
    (doc_stats fields; a non-persisted field falls back to docs_df and
    fails loud without it); default + search_after paths; combination
    guards and parse rejects."""
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
    )

    req = {"query": {"match": {"text": "spark"}}, "size": 5,
           "_source": ["role", "turn_idx"],
           "script_fields": {
               "ti10": {"script": {"source":
                                   "doc['turn_idx'].value * params.m",
                                   "params": {"m": 10}}},
               "boosted": {"script": "_score * 2"}}}
    got = execute_request(docs, req).toPandas()
    base = execute_request(docs, {"query": req["query"],
                                  "size": 5}).toPandas()
    assert got["doc_id"].tolist() == base["doc_id"].tolist()
    assert list(got.columns) == ["doc_id", "score", "role", "turn_idx",
                                 "ti10", "boosted"]
    byid = docs_pdf.set_index(
        docs_pdf.index if "doc_id" not in docs_pdf.columns else "doc_id")
    if "doc_id" in docs_pdf.columns:
        for _, r in got.iterrows():
            assert r["role"] == byid.loc[r["doc_id"]]["role"]
    np.testing.assert_allclose(got["ti10"], got["turn_idx"] * 10.0)
    np.testing.assert_allclose(got["boosted"], got["score"] * 2.0)
    # indexed identity: role/turn_idx persist in doc_stats
    gi = execute_request_indexed(spark, dsl_index, req,
                                 docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(gi, got)
    gi2 = execute_request_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(gi2, got)
    # the indexed TEXT field is not in doc_stats: docs_df fallback
    # works, absence fails loud naming the field
    rq_text = {"query": req["query"], "size": 3, "_source": ["text"]}
    gt = execute_request_indexed(spark, dsl_index, rq_text,
                                 docs_df=docs).toPandas()
    assert gt["text"].notna().all()
    with pytest.raises(DslError, match="text"):
        execute_request_indexed(spark, dsl_index, rq_text).toPandas()
    # bools stay no-ops; search_after path carries the fields
    gb = execute_request(docs, {"query": req["query"], "size": 3,
                                "_source": False}).toPandas()
    assert list(gb.columns) == ["doc_id", "score"]
    p1 = execute_request(docs, {"query": req["query"], "size": 3,
                                "_source": ["role"]}).toPandas()
    cur = [float(p1["score"].iloc[-1]), int(p1["doc_id"].iloc[-1])]
    p2 = execute_request(docs, {"query": req["query"], "size": 3,
                                "search_after": cur,
                                "_source": ["role"]}).toPandas()
    p2i = execute_request_indexed(spark, dsl_index,
                                  {"query": req["query"], "size": 3,
                                   "search_after": cur,
                                   "_source": ["role"]}).toPandas()
    pd.testing.assert_frame_equal(p2i, p2)
    assert p2["role"].notna().all()
    # ES 8 `fields` retrieval option: same join-back as _source, long
    # form accepted, merged and deduped with _source
    gf = execute_request(docs, {"query": req["query"], "size": 5,
                                "fields": ["role",
                                           {"field": "turn_idx"}]}
                         ).toPandas()
    gs = execute_request(docs, {"query": req["query"], "size": 5,
                                "_source": ["role", "turn_idx"]}
                         ).toPandas()
    pd.testing.assert_frame_equal(gf, gs)
    gm = execute_request(docs, {"query": req["query"], "size": 5,
                                "_source": ["role"],
                                "fields": ["role", "turn_idx"]}
                         ).toPandas()
    pd.testing.assert_frame_equal(gm, gs)
    # combination guards + parse rejects
    for bad in (
        {"query": req["query"],
         "fields": [{"field": "role", "format": "x"}]},
        {"query": req["query"], "fields": []},
        {"query": req["query"], "sort": [{"turn_idx": "desc"}],
         "_source": ["role"]},
        {"query": req["query"], "collapse": {"field": "role"},
         "script_fields": {"x": {"script": "1"}}},
        {"query": req["query"], "_source": ["ro*le"]},
        {"query": req["query"], "_source": []},
        {"query": req["query"],
         "script_fields": {"score": {"script": "1"}}},
        {"query": req["query"],
         "script_fields": {"x": {"script": {"source": "1",
                                            "lang": "js"}}}},
        {"query": req["query"],
         "script_fields": {"x": {"script": "doc['zz'].value"}}},
        {"query": req["query"],
         "script_fields": {"x": {"script": "params.q"}}},
    ):
        with pytest.raises(DslError):
            execute_request(docs, {**bad, "size": 2}).collect()


def test_custom_sort_field_and_score(spark, docs, docs_pdf, dsl_index):
    """ES `sort`: field keys (asc default) and _score (desc default),
    paged with size/from; indexed twin joins field keys from doc_stats
    and matches the naive executor row-for-row. search_after with a
    custom sort is out-of-grammar."""
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
    )

    req = {"query": {"match": {"text": "spark"}},
           "sort": [{"turn_idx": "desc"}, "_score"], "size": 7}
    a = execute_request(docs, req).toPandas()
    b = execute_request_indexed(spark, dsl_index, req,
                                docs_df=docs).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    np.testing.assert_allclose(a["score"], b["score"], rtol=1e-9)
    # oracle: score every match, sort by (turn_idx desc, score desc,
    # doc_id asc) — the engine's documented deterministic tiebreak
    want = dsl_oracle(docs_pdf, {"query": req["query"]}, len(docs_pdf))
    merged = want.merge(docs_pdf[["doc_id", "turn_idx"]], on="doc_id")
    merged = merged.sort_values(
        ["turn_idx", "score", "doc_id"],
        ascending=[False, False, True], kind="mergesort").head(7)
    assert a["doc_id"].tolist() == merged["doc_id"].tolist()

    # from-offset pages through the same ordering
    p2 = execute_request(docs, {**req, "size": 3, "from": 3}).toPandas()
    assert p2["doc_id"].tolist() == a["doc_id"].tolist()[3:6]

    with pytest.raises(DslError):
        execute_request(docs, {**req, "search_after": [1.0, 2]})
    with pytest.raises(DslError):
        execute_request(docs, {"query": req["query"],
                               "sort": [{"ts": {"order": "down"}}]})


def test_fuzzy_query(spark, docs, docs_pdf, dsl_index):
    """ES `fuzzy` (round 5): expansions from the corpus vocabulary /
    terms dim within Levenshtein fuzziness (AUTO: 0/<3, 1/3-5, 2/>=6),
    capped by (distance, term) at max_expansions, scored as dis_max
    over the expansions (documented deviation from Lucene's
    blended-freq rewrite). Identity: fuzzy == the hand-desugared
    dis_max; naive == indexed; filter/must_not contexts qualify-only;
    empty expansions behave like absent terms; bad options raise."""

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    vocab = sorted({t for lst in tokenize_pandas(docs_pdf["text"])
                    for t in lst})
    exp = sorted((t for t in vocab
                  if lev(t, "w00042") <= 1 and t.startswith("w00")),
                 key=lambda t: (lev(t, "w00042"), t))[:10]
    assert len(exp) > 3  # the synthetic vocab has many 1-edit neighbors

    fq = {"query": {"fuzzy": {"text": {
        "value": "w00042", "fuzziness": 1, "prefix_length": 3,
        "max_expansions": 10}}}}
    hand = {"query": {"dis_max": {"queries": [
        {"match": {"text": t}} for t in exp]}}}
    a = search_dsl(docs, fq, 10).toPandas()
    b = search_dsl(docs, hand, 10).toPandas()
    _assert_rank_identical(a, b, "fuzzy==dismax")
    gi = search_dsl_indexed(spark, dsl_index, fq, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, a, "fuzzy-indexed")

    # AUTO fuzziness: 6+ chars -> 2 edits
    qa = {"query": {"fuzzy": {"text": "w00042"}}}
    exp2 = sorted((t for t in vocab if lev(t, "w00042") <= 2),
                  key=lambda t: (lev(t, "w00042"), t))[:50]
    hand2 = {"query": {"dis_max": {"queries": [
        {"match": {"text": t}} for t in exp2]}}}
    a2 = search_dsl(docs, qa, 10).toPandas()
    b2 = search_dsl(docs, hand2, 10).toPandas()
    _assert_rank_identical(a2, b2, "fuzzy-auto")

    # filter context: qualification only, scores from the must clause
    qf = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"fuzzy": {"text": {"value": "w00042",
                                       "fuzziness": 1}}}]}}}
    hf = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"bool": {
            "should": [{"match": {"text": t}}
                       for t in sorted(t for t in vocab
                                       if lev(t, "w00042") <= 1)[:50]],
            "minimum_should_match": 1}}]}}}
    af = search_dsl(docs, qf, 10).toPandas()
    bf = search_dsl(docs, hf, 10).toPandas()
    _assert_rank_identical(af, bf, "fuzzy-filter")
    gf = search_dsl_indexed(spark, dsl_index, qf, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gf, af, "fuzzy-filter-indexed")

    # must_not: excludes any doc containing an expansion
    qn = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "must_not": [{"fuzzy": {"text": {"value": "w00042",
                                         "fuzziness": 0}}}]}}}
    an = search_dsl(docs, qn, 10_000).toPandas()
    hits = set(an["doc_id"])
    w42 = {d for d, lst in zip(docs_pdf["doc_id"],
                               tokenize_pandas(docs_pdf["text"]))
           if "w00042" in lst}
    assert not (hits & w42)

    # empty expansion set == absent term
    assert search_dsl(docs, {"query": {"fuzzy": {"text": {
        "value": "zzzzzzzz", "fuzziness": 1}}}}, 10).count() == 0

    for bad in (
        {"fuzzy": {"text": {"value": "x", "rewrite": "top_terms_10"}}},
        {"fuzzy": {"text": {"value": "x", "fuzziness": -1}}},
        {"fuzzy": {"text": {"value": "two words"}}},
        {"fuzzy": {"text": {"value": "x", "max_expansions": 0}}},
    ):
        with pytest.raises(DslError):
            parse_query(bad)


def test_match_fuzziness(spark, docs, dsl_index):
    """`match` with `fuzziness` (round 5): desugars at parse time to
    the bool of per-term `fuzzy` leaves ES's MatchQuery builds —
    operator or -> should/msm 1, and -> must; AUTO resolves per term
    LENGTH so short tokens stay exact while long ones fuzz. Identity
    against the hand-written desugar in every context, naive ==
    indexed; unsupported option combos raise."""
    mq = {"query": {"match": {"text": {
        "query": "spark w00042", "fuzziness": 1, "prefix_length": 1,
        "max_expansions": 20}}}}
    hand = {"query": {"bool": {"should": [
        {"fuzzy": {"text": {"value": "spark", "fuzziness": 1,
                            "prefix_length": 1, "max_expansions": 20}}},
        {"fuzzy": {"text": {"value": "w00042", "fuzziness": 1,
                            "prefix_length": 1, "max_expansions": 20}}},
    ], "minimum_should_match": 1}}}
    a = search_dsl(docs, mq, 10).toPandas()
    b = search_dsl(docs, hand, 10).toPandas()
    _assert_rank_identical(a, b, "mfuzz==desugar")
    assert len(a) == 10
    gi = search_dsl_indexed(spark, dsl_index, mq, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, a, "mfuzz-indexed")

    # operator and + AUTO: 'the' (<3 chars) stays exact at 0 edits
    # while 'w00042' (6 chars) fuzzes at 2 — the per-term AUTO rule
    ma = {"query": {"match": {"text": {
        "query": "term w00042", "operator": "and",
        "fuzziness": "AUTO"}}}}
    handa = {"query": {"bool": {"must": [
        {"fuzzy": {"text": {"value": "term", "fuzziness": 1}}},
        {"fuzzy": {"text": {"value": "w00042", "fuzziness": 2}}},
    ]}}}
    a2 = search_dsl(docs, ma, 10).toPandas()
    b2 = search_dsl(docs, handa, 10).toPandas()
    _assert_rank_identical(a2, b2, "mfuzz-and-auto")
    gi2 = search_dsl_indexed(spark, dsl_index, ma, 10,
                             docs_df=docs).toPandas()
    _assert_rank_identical(gi2, a2, "mfuzz-and-indexed")

    # rides bool contexts as a child bool (should + filter)
    nested = {"query": {"bool": {
        "must": [{"match": {"text": "the_hot_term"}}],
        "should": [{"match": {"text": {"query": "w00042",
                                       "fuzziness": 1}}}],
        "filter": [{"term": {"role": "user"}}],
    }}}
    a3 = search_dsl(docs, nested, 10).toPandas()
    gi3 = search_dsl_indexed(spark, dsl_index, nested, 10,
                             docs_df=docs).toPandas()
    _assert_rank_identical(gi3, a3, "mfuzz-nested-indexed")
    assert (a3["score"] > 0).all()

    for bad in (
        {"match": {"text": {"query": "x", "fuzziness": 1,
                            "boost": 2.0}}},  # boost + fuzziness
        {"match": {"text": {"query": "x", "fuzziness": 1,
                            "minimum_should_match": 1}}},
        {"match": {"text": {"query": "x y", "fuzziness": 1,
                            "operator": "xor"}}},
        {"match": {"text": {"query": "...", "fuzziness": 1}}},
        {"match": {"text": {"query": "x", "fuzziness": -1}}},
        {"match": {"text": {"query": "x", "fuzziness": "AUTO:3,6"}}},
        {"match_phrase": {"text": {"query": "x y", "fuzziness": 1}}},
    ):
        with pytest.raises(DslError):
            parse_query(bad)


def test_match_phrase_prefix(spark, docs, docs_pdf, dsl_index):
    """ES `match_phrase_prefix` (round 5): the analyzed query's last
    term is a prefix, expanded against the vocabulary to the FIRST
    max_expansions terms in term order (the Lucene term-dict rule),
    desugared to a dis_max of exact phrases (documented deviation from
    MultiPhrase blended scoring). Identity: phrase_prefix == the
    hand-desugared dis_max; naive == indexed; single-term degenerates
    to scored term matches; filter context qualifies only; bad options
    raise."""
    vocab = sorted({t for lst in tokenize_pandas(docs_pdf["text"])
                    for t in lst})

    # multi-term: "the_hot_term w0000*" -> phrases over the expansions
    exp = [t for t in vocab if t.startswith("w0000")][:50]
    assert len(exp) >= 5  # w00000.. are the hottest Zipf ranks
    q = {"query": {"match_phrase_prefix": {"text": "the_hot_term w0000"}}}
    hand = {"query": {"dis_max": {"queries": [
        {"match_phrase": {"text": f"the_hot_term {t}"}} for t in exp]}}}
    a = search_dsl(docs, q, 10).toPandas()
    b = search_dsl(docs, hand, 10).toPandas()
    assert len(a) > 0
    _assert_rank_identical(a, b, "phrase_prefix==dismax")
    gi = search_dsl_indexed(spark, dsl_index, q, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, a, "phrase_prefix-indexed")

    # max_expansions caps IN TERM ORDER (not by score/frequency)
    q2 = {"query": {"match_phrase_prefix": {"text": {
        "query": "the_hot_term w0000", "max_expansions": 3}}}}
    hand2 = {"query": {"dis_max": {"queries": [
        {"match_phrase": {"text": f"the_hot_term {t}"}}
        for t in exp[:3]]}}}
    _assert_rank_identical(search_dsl(docs, q2, 10).toPandas(),
                           search_dsl(docs, hand2, 10).toPandas(),
                           "phrase_prefix-capped")

    # slop rides the expanded phrases
    qs = {"query": {"match_phrase_prefix": {"text": {
        "query": "the_hot_term w0000", "slop": 2}}}}
    hands = {"query": {"dis_max": {"queries": [
        {"match_phrase": {"text": {"query": f"the_hot_term {t}",
                                   "slop": 2}}} for t in exp]}}}
    _assert_rank_identical(search_dsl(docs, qs, 10).toPandas(),
                           search_dsl(docs, hands, 10).toPandas(),
                           "phrase_prefix-slop")

    # single-term: a SCORED prefix — dis_max of plain term matches
    q3 = {"query": {"match_phrase_prefix": {"text": {
        "query": "w0004", "max_expansions": 5}}}}
    exp3 = [t for t in vocab if t.startswith("w0004")][:5]
    hand3 = {"query": {"dis_max": {"queries": [
        {"match": {"text": t}} for t in exp3]}}}
    a3 = search_dsl(docs, q3, 10).toPandas()
    _assert_rank_identical(a3, search_dsl(docs, hand3, 10).toPandas(),
                           "phrase_prefix-single-term")
    assert (a3["score"] > 0).all()  # scored, unlike the metadata prefix
    gi3 = search_dsl_indexed(spark, dsl_index, q3, 10,
                             docs_df=docs).toPandas()
    _assert_rank_identical(gi3, a3, "phrase_prefix-single-indexed")

    # filter context: qualification only, scores from the must clause
    qf = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"match_phrase_prefix": {"text": "the_hot_term w0000"}}],
    }}}
    af = search_dsl(docs, qf, 10).toPandas()
    hf = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"dis_max": {"queries": [
            {"match_phrase": {"text": f"the_hot_term {t}"}}
            for t in exp]}}],
    }}}
    _assert_rank_identical(af, search_dsl(docs, hf, 10).toPandas(),
                           "phrase_prefix-filter")

    # no vocabulary term carries the prefix == absent term
    assert search_dsl(docs, {"query": {"match_phrase_prefix": {
        "text": "the_hot_term zzzz"}}}, 10).count() == 0

    for bad in (
        {"match_phrase_prefix": {"text": {"query": "x",
                                          "analyzer": "std"}}},
        {"match_phrase_prefix": {"text": {"query": "x",
                                          "max_expansions": 0}}},
        {"match_phrase_prefix": {"text": {"query": "x", "slop": -1}}},
        {"match_phrase_prefix": {"text": "...!!!"}},  # analyzes to none
    ):
        with pytest.raises(DslError):
            parse_query(bad)


def test_collapse_field(spark, docs, docs_pdf, dsl_index):
    """ES `collapse` (round 5): top hit per collapse-key by the request
    sort (default _score desc, doc_id tiebreak), then size/from; NULL
    keys form one group (documented); indexed twin joins the collapse
    field from doc_stats; inner_hits / collapse+search_after /
    collapse+aggs fail loud."""
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
    )

    req = {"query": {"match": {"text": "spark"}},
           "collapse": {"field": "role"}, "size": 10}
    a = execute_request(docs, req).toPandas()
    b = execute_request_indexed(spark, dsl_index, req,
                                docs_df=docs).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    np.testing.assert_allclose(a["score"], b["score"], rtol=1e-9)
    # oracle: best-scoring doc per role, ordered by score desc
    want = dsl_oracle(docs_pdf, {"query": req["query"]}, len(docs_pdf))
    merged = want.merge(docs_pdf[["doc_id", "role"]], on="doc_id")
    merged = merged.sort_values(["score", "doc_id"],
                                ascending=[False, True], kind="mergesort")
    top = merged.groupby("role", dropna=False).head(1).sort_values(
        ["score", "doc_id"], ascending=[False, True])
    assert a["doc_id"].tolist() == top["doc_id"].tolist()
    assert len(a) == docs_pdf[
        docs_pdf["doc_id"].isin(want["doc_id"])]["role"].nunique()

    # collapse under a custom sort keeps the sort's best per group
    req2 = {"query": {"match": {"text": "spark"}},
            "collapse": {"field": "role"},
            "sort": [{"turn_idx": "asc"}], "size": 10}
    a2 = execute_request(docs, req2).toPandas()
    b2 = execute_request_indexed(spark, dsl_index, req2,
                                 docs_df=docs).toPandas()
    assert a2["doc_id"].tolist() == b2["doc_id"].tolist()
    m2 = want.merge(docs_pdf[["doc_id", "role", "turn_idx"]], on="doc_id")
    m2 = m2.sort_values(["turn_idx", "doc_id"], kind="mergesort")
    top2 = m2.groupby("role", dropna=False).head(1).sort_values(
        ["turn_idx", "doc_id"])
    assert a2["doc_id"].tolist() == top2["doc_id"].tolist()

    # NULL collapse keys form one group (tool carries NULLs)
    req3 = {"query": {"match": {"text": "spark"}},
            "collapse": {"field": "tool"}, "size": 100}
    a3 = execute_request(docs, req3).toPandas()
    m3 = want.merge(docs_pdf[["doc_id", "tool"]], on="doc_id")
    assert len(a3) == m3["tool"].nunique(dropna=False)
    b3 = execute_request_indexed(spark, dsl_index, req3,
                                 docs_df=docs).toPandas()
    assert a3["doc_id"].tolist() == b3["doc_id"].tolist()

    for bad in (
        {"query": req["query"], "collapse": {"field": "role",
                                             "inner_hits": {}}},
        {"query": req["query"], "collapse": {"fld": "role"}},
        {"query": req["query"], "collapse": {"field": "role"},
         "search_after": [1.0, 2]},
        {"query": req["query"], "collapse": {"field": "role"},
         "aggs": {"a": {"terms": {"field": "role"}}}},
    ):
        with pytest.raises(DslError):
            execute_request(docs, bad)
    with pytest.raises(DslError, match="doc_stats"):
        execute_request_indexed(
            spark, dsl_index,
            {"query": req["query"],
             "collapse": {"field": "no_such_col"}}).toPandas()


def test_sort_nulls_last_docid_and_grammar_edges(spark, docs, docs_pdf,
                                                 dsl_index):
    """ES missing=_last: NULL sort fields go last in either direction;
    doc_id sorts work on the indexed path (no doc_stats join needed);
    un-joinable sort fields, aggs+sort, msearch extras, and a
    query-less match body all fail as DslError."""
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
        search_dsl_many,
    )

    # `tool` carries NULLs: ascending sort must put them LAST
    req = {"query": {"match": {"text": "spark"}},
           "sort": [{"tool": "asc"}], "size": 2000}
    a = execute_request(docs, req).toPandas()
    b = execute_request_indexed(spark, dsl_index, req,
                                docs_df=docs).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    tool_of = docs_pdf.set_index("doc_id")["tool"]
    vals = tool_of.loc[a["doc_id"]].tolist()
    nulls = [i for i, v in enumerate(vals) if v is None or v != v]
    assert nulls and nulls == list(range(len(vals) - len(nulls),
                                         len(vals)))

    # doc_id as a sort key works on BOTH paths
    req2 = {"query": {"match": {"text": "spark"}},
            "sort": ["doc_id"], "size": 5}
    a2 = execute_request(docs, req2).toPandas()
    b2 = execute_request_indexed(spark, dsl_index, req2,
                                 docs_df=docs).toPandas()
    assert a2["doc_id"].tolist() == b2["doc_id"].tolist()
    assert a2["doc_id"].is_monotonic_increasing

    with pytest.raises(DslError):  # text is not in doc_stats
        execute_request_indexed(spark, dsl_index,
                                {**req2, "sort": ["text"]})
    with pytest.raises(DslError):  # aggs returns buckets only
        execute_request(docs, {
            "query": req2["query"], "sort": ["doc_id"],
            "aggs": {"g": {"terms": {"field": "role"}}}})
    with pytest.raises(DslError):  # msearch bodies fail loud too
        search_dsl_many(docs, [{"query_id": "a",
                                "query": req2["query"],
                                "sort": ["doc_id"]}])
    with pytest.raises(DslError):  # boost-only match body: no query
        parse_query({"match": {"text": {"boost": 2.0}}})


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_random_nested_bool_naive_matches_oracle(spark, docs, docs_pdf,
                                                 data):
    q = {"query": {"bool": _bool_query(data.draw, depth=2)}}
    got = search_dsl(docs, q, 10).toPandas()
    want = dsl_oracle(docs_pdf, q, 10)
    assert got["doc_id"].tolist() == want["doc_id"].tolist(), q
    np.testing.assert_allclose(
        got["score"].to_numpy(dtype=np.float64),
        want["score"].to_numpy(dtype=np.float64),
        rtol=1e-9, atol=1e-12, err_msg=str(q))


@settings(max_examples=6, deadline=None)
@given(st.data())
def test_random_nested_bool_indexed_matches_naive(spark, docs, dsl_index,
                                                  data):
    """Random trees through the INDEXED executor — randomly hits the
    cross-clause pruned path (prunable shapes) and the score-all
    fallback; both must be rank+score identical to the naive pass."""
    q = {"query": {"bool": _bool_query(data.draw, depth=1)}}
    want = search_dsl(docs, q, 8).toPandas()
    got = search_dsl_indexed(spark, dsl_index, q, 8, docs_df=docs).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist(), q
    np.testing.assert_allclose(
        got["score"].to_numpy(dtype=np.float64),
        want["score"].to_numpy(dtype=np.float64),
        rtol=1e-9, atol=1e-12, err_msg=str(q))


# --------------------------------------------------------------------------
# generated bool trees: naive == indexed == _spec_eval on the FULL
# qualifying set, every context rule of the one bool walker exercised —
# empty bools, explicit msm, metadata shoulds, unsatisfiable leaves
# --------------------------------------------------------------------------

from prow_jobs_scraper_spark.search.dsl import (  # noqa: E402
    search_dsl_many,
    search_dsl_many_indexed,
)

_TREE_TERMS = ["spark", "agent", "the_hot_term", "w00013", "w00042",
               "zzz_never_appears"]
_TREE_BATCH = 25


@st.composite
def _tree_leaf(draw):
    kind = draw(st.sampled_from(["match", "match", "term", "range",
                                 "terms", "dis_max"]))
    if kind in ("match", "dis_max"):
        ms = [{"match": {"text": {
            "query": " ".join(draw(st.lists(st.sampled_from(_TREE_TERMS),
                                            min_size=1, max_size=2))),
            "operator": draw(st.sampled_from(["and", "or"]))}}}
            for _ in range(draw(st.integers(1, 2)))]
        if kind == "match":
            return ms[0]
        return {"dis_max": {"queries": ms, "tie_breaker": draw(
            st.sampled_from([0.0, 0.4, 1.0]))}}
    if kind == "term":
        field = draw(st.sampled_from(["role", "tool"]))  # tool has NULLs
        return {"term": {field: draw(st.sampled_from(
            ["user", "tool", "bash", "sql"]))}}
    if kind == "terms":
        return {"terms": {"role": draw(st.lists(st.sampled_from(
            ["user", "assistant", "system"]), min_size=1, max_size=2))}}
    op = draw(st.sampled_from(["gte", "lt"]))
    return {"range": {"turn_idx": {op: draw(st.integers(0, 120))}}}


@st.composite
def _tree(draw, depth: int = 3):
    """One ES query: a leaf, or (depth permitting) a bool — possibly
    empty, with an explicit minimum_should_match or not — a
    constant_score or a boosting over smaller trees."""
    kind = (draw(st.sampled_from(["leaf", "leaf", "bool", "bool",
                                  "constant_score", "boosting"]))
            if depth else "leaf")
    if kind == "leaf":
        return draw(_tree_leaf())
    if kind == "constant_score":
        return {"constant_score": {"filter": draw(_tree(depth - 1)),
                                   "boost": draw(st.sampled_from([1.0,
                                                                  2.5]))}}
    if kind == "boosting":
        return {"boosting": {"positive": draw(_tree(depth - 1)),
                             "negative": draw(_tree(depth - 1)),
                             "negative_boost": draw(st.sampled_from(
                                 [0.0, 0.5, 1.0]))}}
    body = {}
    for ctx in ("must", "filter", "should", "must_not"):
        n = draw(st.sampled_from([0, 0, 1, 1, 2]))
        if n:
            body[ctx] = [draw(_tree(depth - 1)) for _ in range(n)]
    if draw(st.integers(0, 3)) == 0:
        body["minimum_should_match"] = draw(st.sampled_from(
            [0, 1, 2, -1, "50%"]))
    return {"bool": body}


@pytest.fixture(scope="module")
def tree_corpus(spark, tmp_path_factory):
    """A small corpus, its pandas copy and its index."""
    from prow_jobs_scraper_spark.synth import synth_transcripts_pandas
    pdf = synth_transcripts_pandas(n_turns=400, seed=11)
    df = spark.createDataFrame(pdf)
    docs_ = with_doc_ids(df.withColumn("ts", df["ts"].cast("timestamp")))
    docs_ = docs_.cache()
    d = str(tmp_path_factory.mktemp("tree_idx"))
    build_index(spark, docs_, d, BuildConfig(n_ranges=2, n_buckets=2))
    return docs_, docs_.toPandas(), d


def _oracle_rows(pdf, fstats, spec) -> dict:
    ok, total, qual, _ = _spec_eval(pdf, fstats, len(pdf), spec)
    if not ok:
        return {}
    return dict(zip(pdf["doc_id"].to_numpy()[qual].tolist(),
                    total[qual].tolist()))


def _assert_same_rows(got: dict, want: dict, what: str, q: dict):
    import json
    msg = f"{what}: {json.dumps(q)}"
    assert sorted(got) == sorted(want), msg
    ids = sorted(want)
    np.testing.assert_allclose([got[i] for i in ids], [want[i] for i in ids],
                               rtol=1e-9, atol=1e-12, err_msg=msg)


@settings(max_examples=200 // _TREE_BATCH, deadline=None, derandomize=True,
          database=None, phases=[Phase.generate],
          suppress_health_check=list(HealthCheck))
@given(st.lists(_tree(), min_size=_TREE_BATCH, max_size=_TREE_BATCH))
def test_generated_bool_trees_match_across_executors(spark, tree_corpus,
                                                     trees):
    """Random bool trees (depth <= 3) through both _msearch executors,
    each query sized past the corpus so the whole qualifying set comes
    back: naive rows == indexed rows == the _spec_eval oracle, doc ids
    and scores, and the count with them."""
    docs_, pdf, idx = tree_corpus
    reqs = [{"query_id": f"t{i:02d}", "query": q, "size": len(pdf) + 1}
            for i, q in enumerate(trees)]
    runs = {"naive": search_dsl_many(docs_, reqs).toPandas(),
            "indexed": search_dsl_many_indexed(spark, idx, reqs,
                                               docs_df=docs_).toPandas()}
    fstats = _field_stats(pdf, {"text"})
    for r in reqs:
        want = _oracle_rows(pdf, fstats, parse_query(r["query"]))
        for what, out in runs.items():
            block = out[out["query_id"] == r["query_id"]]
            got = dict(zip(block["doc_id"].tolist(), block["score"].tolist()))
            assert len(block) == len(got), f"{what}: duplicate doc_ids"
            _assert_same_rows(got, want, what, r["query"])


# prunable shapes with metadata clauses: each batches with its allowed
# set (one doc_stats scan per distinct filter) instead of running alone
_MSEARCH_META_REQS = [
    {"query_id": "f",  # metadata must_not
     "query": {"bool": {"must": [{"match": {"text": "agent"}}],
                        "must_not": [{"term": {"role": "user"}}]}},
     "size": 7},
    {"query_id": "g",  # should-only with a filter (beside a filter,
     # ES defaults msm to 0, which admits zero-score docs: pin it to 1)
     "query": {"bool": {"should": [{"match": {"text": "spark"}},
                                   {"match": {"text": "the_hot_term"}}],
                        "filter": [{"range": {"turn_idx": {"gte": 2}}}],
                        "minimum_should_match": 1}},
     "size": 9},
]


def test_msearch_indexed_matches_per_query(spark, docs, dsl_index,
                                           dsl_segments):
    """Indexed _msearch: prunable queries — metadata filters and
    must_nots included — batch through one postings read + shared block
    cache, fallback shapes (phrase, nesting) union in from their own
    exact top-k — every block rank+score identical to its own
    search_dsl_indexed."""
    from prow_jobs_scraper_spark.search.dsl import search_dsl_many_indexed

    reqs = [
        {"query_id": "a", "query": {"bool": {"must": [
            {"match": {"text": {"query": "w00042 w00099",
                                "operator": "and"}}}],
            "should": [{"match": {"text": "the_hot_term"}}]}},
         "size": 6},
        {"query_id": "b", "query": {"bool": {"should": [
            {"match": {"text": "spark"}},
            {"match": {"text": "agent"}}]}}, "size": 5},
        {"query_id": "c",  # batched: metadata filter
         "query": {"bool": {"must": [{"match": {"text": "spark"}}],
                            "filter": [{"term": {"role": "assistant"}}]}},
         "size": 4},
        {"query_id": "d",  # fallback: phrase
         "query": {"match_phrase": {"text": "the_hot_term"}}, "size": 3},
        {"query_id": "e",  # provably empty
         "query": {"match": {"text": {"query": "zzz_never_appears",
                                      "operator": "and"}}}},
    ]
    reqs += _MSEARCH_META_REQS
    for idx in (dsl_index, dsl_segments):
        batch = search_dsl_many_indexed(spark, idx, reqs,
                                        docs_df=docs).toPandas()
        assert (batch["query_id"] == "e").sum() == 0
        for r in reqs:
            if r["query_id"] == "e":
                continue
            want = search_dsl_indexed(spark, idx, r["query"],
                                      r["size"], docs_df=docs).toPandas()
            got = (batch[batch["query_id"] == r["query_id"]]
                   .reset_index(drop=True))
            _assert_rank_identical(got, want,
                                   f"msearch-indexed:{r['query_id']}")
            assert len(got) > 0, r["query_id"]


def test_msearch_indexed_reads_postings_once(spark, docs, dsl_segments,
                                             monkeypatch):
    """A batch of prunable queries — unfiltered, metadata-filtered and
    metadata must_not — reads the posting blocks ONCE, in one group
    pass; no query falls back to a read of its own."""
    from prow_jobs_scraper_spark.search import compressed as C
    from prow_jobs_scraper_spark.search import dsl as D

    reads = []
    real = C._segment_blocks

    def counted(*args, **kwargs):
        reads.append(args[-1])
        return real(*args, **kwargs)

    monkeypatch.setattr(C, "_segment_blocks", counted)
    reqs = [
        {"query_id": "a", "query": {"bool": {"should": [
            {"match": {"text": "spark"}}, {"match": {"text": "agent"}}]}},
         "size": 5},
        {"query_id": "c", "query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "filter": [{"term": {"role": "assistant"}}]}}, "size": 4},
        *_MSEARCH_META_REQS,
    ]
    batch = D.search_dsl_many_indexed(spark, dsl_segments, reqs).toPandas()
    assert len(reads) == 1, reads
    assert set(batch["query_id"]) == {r["query_id"] for r in reqs}


# --------------------------------------------------------------------------
# rescore (round 5)
# --------------------------------------------------------------------------

def _rescore_oracle(pdf, req):
    """Independent pandas replay of ES rescore: base top-depth ranking,
    window re-sorted by the combined score (Lucene QueryRescorer:
    unmatched docs keep query_weight * base), beyond-window docs keep
    their ORIGINAL score below the window."""
    r = req["rescore"]
    qblk = r["query"]
    size, frm = req.get("size", 10), req.get("from", 0)
    window = r.get("window_size", frm + size)
    qw = qblk.get("query_weight", 1.0)
    rqw = qblk.get("rescore_query_weight", 1.0)
    mode = qblk.get("score_mode", "total")
    depth = max(window, frm + size)
    base = dsl_oracle(pdf, {"query": req["query"]}, depth)
    rspec = parse_query({"query": qblk["rescore_query"]})
    rst = _field_stats(pdf, {c.field for c in rspec.text_clauses()})
    rok, rtot, rqual, _ = _spec_eval(pdf, rst, len(pdf), rspec)
    rs = (dict(zip(pdf["doc_id"].to_numpy()[rqual], rtot[rqual]))
          if rok else {})

    def combine(b, x):
        return {"total": b + x, "multiply": b * x, "avg": (b + x) / 2,
                "max": max(b, x), "min": min(b, x)}[mode]

    rows = []
    for i, (d, s) in enumerate(zip(base["doc_id"], base["score"])):
        if i < window:
            c = (combine(qw * s, rqw * rs[d]) if d in rs else qw * s)
            rows.append((0, c, int(d)))
        else:
            rows.append((1, s, int(d)))
    rows.sort(key=lambda t: (t[0], -t[1], t[2]))
    sel = rows[frm:frm + size]
    return pd.DataFrame({"doc_id": [d for _, _, d in sel],
                         "score": [s for _, s, _ in sel]})


def test_rescore(spark, docs, docs_pdf, dsl_index):
    """ES rescore: phrase rescoring over an or-match window — naive vs
    the pandas oracle, indexed vs naive, every score_mode, windowed
    tier behavior, the from+size default window, and fail-loud
    validation."""
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
    )

    base_q = {"match": {"text": {"query": "spark agent",
                                 "operator": "or"}}}
    resc_q = {"match_phrase": {"text": "the_hot_term spark"}}

    for extra in ({"rescore_query_weight": 2.0},
                  {"score_mode": "multiply"},
                  {"score_mode": "max", "query_weight": 0.7},
                  {"score_mode": "min"},
                  {"score_mode": "avg"}):
        req = {"query": base_q, "size": 10,
               "rescore": {"window_size": 30,
                           "query": {"rescore_query": resc_q, **extra}}}
        got = execute_request(docs, req).toPandas()
        want = _rescore_oracle(docs_pdf, req)
        _assert_rank_identical(got, want, f"rescore-{extra}")
        gi = execute_request_indexed(spark, dsl_index, req,
                                     docs_df=docs).toPandas()
        _assert_rank_identical(gi, got, f"rescore-indexed-{extra}")

    # the demotion-resistant tier: window=3 of a 10-row page — ranks
    # 4..10 keep their ORIGINAL base score and order below the window
    req3 = {"query": base_q, "size": 10,
            "rescore": {"window_size": 3,
                        "query": {"rescore_query": resc_q,
                                  "query_weight": 0.0}}}
    got3 = execute_request(docs, req3).toPandas()
    base10 = search_dsl(docs, {"query": base_q}, 10).toPandas()
    assert got3["doc_id"].tolist()[3:] == base10["doc_id"].tolist()[3:]
    np.testing.assert_allclose(got3["score"].to_numpy()[3:],
                               base10["score"].to_numpy()[3:])
    _assert_rank_identical(got3, _rescore_oracle(docs_pdf, req3),
                           "rescore-window3")

    # window_size defaults to from+size (the ES rule)
    reqd = {"query": base_q, "size": 5, "from": 2,
            "rescore": {"query": {"rescore_query": resc_q}}}
    _assert_rank_identical(execute_request(docs, reqd).toPandas(),
                           _rescore_oracle(docs_pdf, reqd),
                           "rescore-default-window")

    for bad in (
        {"rescore": [{"query": {"rescore_query": resc_q}}]},  # stages
        {"rescore": {"query": {"rescore_query": resc_q},
                     "window": 5}},                  # unknown option
        {"rescore": {"query": {"rescore_query": resc_q,
                               "score_mode": "sum"}}},
        {"rescore": {"query": {}}},                  # no rescore_query
        {"rescore": {"query": {"rescore_query": resc_q}},
         "sort": [{"n_chars": "desc"}]},             # rescore + sort
        {"rescore": {"query": {"rescore_query": resc_q}},
         "search_after": [1.0, 5]},
        {"rescore": {"query": {"rescore_query": resc_q}},
         "aggs": {"x": {"value_count": {"field": "doc_id"}}}},
    ):
        with pytest.raises(DslError):
            execute_request(docs, {"query": base_q, **bad})


# --------------------------------------------------------------------------
# more_like_this (round 5)
# --------------------------------------------------------------------------

def test_more_like_this(spark, docs, docs_pdf, dsl_index):
    """ES more_like_this: term selection (tf/df bounds, tf*idf rank,
    max_query_terms cap) replayed by hand from pandas stats, then the
    desugared bool-should compared rank-identically — naive and
    indexed; filter context; empty selection; validation."""
    from collections import Counter

    from prow_jobs_scraper_spark.search.dsl import MltClause, parse_query

    tok_lists = tokenize_pandas(docs_pdf["text"])
    n_docs = len(docs_pdf)
    df_of = Counter(t for lst in tok_lists for t in set(lst))

    def hand_select(like, max_terms=25, min_tf=2, min_df=5, max_df=None):
        cnt = Counter(tokenize_text(like))
        cands = []
        for t, tf in cnt.items():
            df = df_of.get(t, 0)
            if tf < min_tf or df < min_df:
                continue
            if max_df is not None and df > max_df:
                continue
            idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
            cands.append((-(tf * idf), t))
        cands.sort()
        return [t for _, t in cands[:max_terms]]

    like = ("the_hot_term spark agent the_hot_term spark w00031 "
            "w00031 w00077 table")
    sel = hand_select(like)
    assert len(sel) >= 3  # the_hot_term / spark / w00031 pass tf>=2
    q = {"query": {"more_like_this": {
        "fields": ["text"], "like": like}}}
    hand = {"query": {"bool": {
        "should": [{"match": {"text": t}} for t in sel],
        "minimum_should_match": max(1, (len(sel) * 30) // 100)}}}
    a = search_dsl(docs, q, 15).toPandas()
    assert len(a) > 0
    _assert_rank_identical(a, search_dsl(docs, hand, 15).toPandas(),
                           "mlt==hand-desugar")
    gi = search_dsl_indexed(spark, dsl_index, q, 15,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, a, "mlt-indexed")

    # max_doc_freq drops the hot term; max_query_terms caps by rank
    sel2 = hand_select(like, max_terms=2,
                       max_df=df_of["the_hot_term"] - 1)
    assert "the_hot_term" not in sel2 and len(sel2) == 2
    q2 = {"query": {"more_like_this": {
        "fields": ["text"], "like": like, "max_query_terms": 2,
        "max_doc_freq": df_of["the_hot_term"] - 1,
        "minimum_should_match": 1}}}
    hand2 = {"query": {"bool": {
        "should": [{"match": {"text": t}} for t in sel2],
        "minimum_should_match": 1}}}
    a2 = search_dsl(docs, q2, 15).toPandas()
    _assert_rank_identical(a2, search_dsl(docs, hand2, 15).toPandas(),
                           "mlt-capped")
    _assert_rank_identical(
        search_dsl_indexed(spark, dsl_index, q2, 15,
                           docs_df=docs).toPandas(),
        a2, "mlt-capped-indexed")

    # multi-like: one analyzed bag (tf sums across the texts)
    qm = {"query": {"more_like_this": {
        "fields": ["text"],
        "like": ["the_hot_term spark", "spark the_hot_term agent"]}}}
    selm = hand_select("the_hot_term spark spark the_hot_term agent")
    handm = {"query": {"bool": {
        "should": [{"match": {"text": t}} for t in selm],
        "minimum_should_match": max(1, (len(selm) * 30) // 100)}}}
    _assert_rank_identical(search_dsl(docs, qm, 10).toPandas(),
                           search_dsl(docs, handm, 10).toPandas(),
                           "mlt-multi-like")

    # filter context: qualification only
    qf = {"query": {"bool": {
        "must": [{"match": {"text": "agent"}}],
        "filter": [{"more_like_this": {
            "fields": ["text"], "like": like,
            "minimum_should_match": 1}}]}}}
    handf = {"query": {"bool": {
        "must": [{"match": {"text": "agent"}}],
        "filter": [{"bool": {
            "should": [{"match": {"text": t}} for t in sel],
            "minimum_should_match": 1}}]}}}
    _assert_rank_identical(search_dsl(docs, qf, 10).toPandas(),
                           search_dsl(docs, handf, 10).toPandas(),
                           "mlt-filter-ctx")

    # every like-term below min_doc_freq -> unsatisfiable -> 0 rows
    qe = {"query": {"more_like_this": {
        "fields": ["text"],
        "like": "zzz_absent zzz_absent qqq_absent qqq_absent"}}}
    assert search_dsl(docs, qe, 10).count() == 0
    assert search_dsl_indexed(spark, dsl_index, qe, 10,
                              docs_df=docs).count() == 0
    # ...but in must_not it's a no-op, and in should it never matches
    qn = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "must_not": [{"more_like_this": {
            "fields": ["text"], "like": "zzz_absent zzz_absent"}}]}}}
    _assert_rank_identical(
        search_dsl(docs, qn, 10).toPandas(),
        search_dsl(docs, {"query": {"match": {"text": "spark"}}},
                   10).toPandas(),
        "mlt-empty-must-not")

    for bad in (
        {"like": "x y"},                                 # fields missing
        {"fields": ["text", "role"], "like": "x"},        # multi-field
        {"fields": ["text"]},                             # like missing
        {"fields": ["text"], "like": [{"_id": 3}]},       # doc ref
        {"fields": ["text"], "like": "..."},              # no tokens
        {"fields": ["text"], "like": "x", "min_term_freq": 0},
        {"fields": ["text"], "like": "x", "max_doc_freq": 0},
        {"fields": ["text"], "like": "x", "unlike": "y"},
        {"fields": ["text"], "like": "x",
         "minimum_should_match": "abc"},
    ):
        with pytest.raises(DslError):
            parse_query({"more_like_this": bad})

    # parse-level wiring: clause lands in spec.mlt with analyzer output
    spec = parse_query({"more_like_this": {
        "fields": ["text"], "like": "Spark SPARK agent"}})
    assert len(spec.mlt) == 1 and isinstance(spec.mlt[0][1], MltClause)
    assert spec.mlt[0][1].like_tokens == ("spark", "spark", "agent")


# --------------------------------------------------------------------------
# term suggester (round 5)
# --------------------------------------------------------------------------

def _suggest_oracle(docs_pdf, token, opts):
    """Independent duckdb+python replay of the term suggester rules
    for ONE token: duckdb levenshtein over the pandas vocabulary, then
    the Lucene similarity/sort/size rules in plain python."""
    tok_lists = tokenize_pandas(docs_pdf["text"])
    from collections import Counter
    vocab = Counter(t for lst in tok_lists for t in set(lst))
    self_df = vocab.get(token, 0)
    if len(token) < opts.get("min_word_length", 4):
        return []
    if opts.get("suggest_mode", "missing") == "missing" and self_df:
        return []
    con = duckdb.connect()
    vdf = pd.DataFrame({"term": list(vocab), "df": list(vocab.values())})
    con.register("vocab", vdf)
    rows = con.execute(
        "SELECT term, df, levenshtein(term, ?) AS d FROM vocab "
        "WHERE levenshtein(term, ?) <= ? AND term <> ?",
        [token, token, opts.get("max_edits", 2), token]).fetchall()
    pl = opts.get("prefix_length", 1)
    out = []
    for term, df, d in rows:
        if pl and term[:pl] != token[:pl]:
            continue
        if df < opts.get("min_doc_freq", 1):
            continue
        if opts.get("suggest_mode", "missing") == "popular" \
                and df <= self_df:
            continue
        score = 1.0 - d / min(len(term), len(token))
        out.append((term, df, round(score, 6)))
    if opts.get("sort", "score") == "score":
        out.sort(key=lambda r: (-r[2], -r[1], r[0]))
    else:
        out.sort(key=lambda r: (-r[1], -r[2], r[0]))
    return out[: opts.get("size", 5)]


def test_term_suggester(spark, docs, docs_pdf, dsl_index):
    """ES term suggester: every suggest_mode/sort against the duckdb
    levenshtein oracle, naive == indexed row identity, multi-entry
    requests, and fail-loud validation."""
    from prow_jobs_scraper_spark.search.suggest import (
        parse_suggest,
        suggest_terms,
        suggest_terms_indexed,
    )

    def run(req):
        return suggest_terms(docs, req).toPandas()

    def check(name, got, token, opts):
        g = got[got["token"] == token]
        want = _suggest_oracle(docs_pdf, token, opts)
        assert g["suggestion"].tolist() == [w[0] for w in want], name
        assert g["freq"].tolist() == [w[1] for w in want], name
        np.testing.assert_allclose(
            g["score"].to_numpy(), [w[2] for w in want],
            rtol=0, atol=1e-6, err_msg=name)
        assert g["rank"].tolist() == list(range(1, len(want) + 1)), name

    # missing mode (default): the misspelling gets corrections, the
    # in-vocabulary token gets NONE; prefix_length=0 admits 'hash'
    req = {"suggest": {"fix": {
        "text": "mash spark",
        "term": {"field": "text", "prefix_length": 0}}}}
    got = run(req)
    check("missing-mash", got, "mash",
          {"prefix_length": 0})
    assert (got["token"] == "spark").sum() == 0  # present -> silent
    gi = suggest_terms_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  gi.reset_index(drop=True))

    # always mode on a PRESENT token; frequency sort; popular mode
    for opts in ({"suggest_mode": "always", "prefix_length": 0},
                 {"suggest_mode": "always", "sort": "frequency",
                  "prefix_length": 0, "size": 3},
                 {"suggest_mode": "popular", "prefix_length": 0},
                 {"suggest_mode": "always", "max_edits": 1,
                  "prefix_length": 1}):
        req = {"suggest": {"s": {"text": "term",
                                 "term": {"field": "text", **opts}}}}
        got = run(req)
        check(str(opts), got, "term", opts)
        gi = suggest_terms_indexed(spark, dsl_index, req).toPandas()
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      gi.reset_index(drop=True),
                                      obj=str(opts))

    # popular on a present token only keeps strictly-more-frequent
    # candidates; verify against the self-df bound explicitly
    from collections import Counter
    vocab = Counter(t for lst in tokenize_pandas(docs_pdf["text"])
                    for t in set(lst))
    req = {"suggest": {"p": {"text": "term", "term": {
        "field": "text", "suggest_mode": "popular",
        "prefix_length": 0}}}}
    got = run(req)
    assert (got["freq"] > vocab["term"]).all()

    # min_word_length gates short tokens entirely
    req = {"suggest": {"w": {"text": "agg mash", "term": {
        "field": "text", "prefix_length": 0}}}}
    got = run(req)
    assert (got["token"] == "agg").sum() == 0
    assert (got["token"] == "mash").sum() > 0

    # two entries in one request keep their names and orders
    req = {"suggest": {
        "a": {"text": "mash", "term": {"field": "text",
                                       "prefix_length": 0}},
        "b": {"text": "tokn", "term": {"field": "text",
                                        "suggest_mode": "always"}},
    }}
    got = run(req)
    assert set(got["sugg"]) == {"a", "b"}
    gi = suggest_terms_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  gi.reset_index(drop=True))

    for bad in (
        {},                                              # empty
        {"x": {"term": {"field": "text"}}},              # no text
        {"x": {"text": "y"}},                            # no term
        {"x": {"text": "y", "term": {}}},                # no field
        {"x": {"text": "y", "term": {"field": "text",
                                     "max_edits": 3}}},
        {"x": {"text": "y", "term": {"field": "text",
                                     "sort": "rank"}}},
        {"x": {"text": "y", "term": {"field": "text",
                                     "suggest_mode": "all"}}},
        {"x": {"text": "y", "term": {"field": "text",
                                     "shard_size": 10}}},
        {"x": {"text": "...", "term": {"field": "text"}}},
        {"x": {"text": "y", "phrase": {"field": "text"}}},
    ):
        with pytest.raises(DslError):
            parse_suggest({"suggest": bad})


def test_completion_suggester(spark, docs, docs_pdf, dsl_index):
    """ES completion suggester analogue: prefix-matched vocabulary
    terms ranked by df, vs a pandas Counter replay; naive == indexed;
    validation fails loud."""
    from collections import Counter

    from prow_jobs_scraper_spark.search.suggest import (
        suggest_completion,
        suggest_completion_indexed,
    )

    vocab = Counter(t for lst in tokenize_pandas(docs_pdf["text"])
                    for t in set(lst))
    req = {"suggest": {
        "c": {"prefix": "te", "completion": {"field": "text",
                                             "size": 3}},
        "d": {"prefix": "w000", "completion": {
            "field": "text", "size": 5, "skip_duplicates": True}},
    }}
    got = suggest_completion(docs, req).toPandas()
    for name, prefix, size in (("c", "te", 3), ("d", "w000", 5)):
        g = got[got["sugg"] == name]
        want = sorted(
            [(t, c) for t, c in vocab.items() if t.startswith(prefix)],
            key=lambda x: (-x[1], x[0]))[:size]
        assert g["suggestion"].tolist() == [w[0] for w in want], name
        assert g["score"].tolist() == [float(w[1]) for w in want], name
        assert g["rank"].tolist() == list(range(1, len(want) + 1))
    gi = suggest_completion_indexed(spark, dsl_index, req).toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  gi.reset_index(drop=True))

    for bad in (
        {"c": {"completion": {"field": "text"}}},          # no prefix
        {"c": {"prefix": "", "completion": {"field": "text"}}},
        {"c": {"prefix": "t", "completion": {}}},          # no field
        {"c": {"prefix": "t", "completion": {"field": "text",
                                             "fuzzy": {}}}},
        {"c": {"prefix": "t", "regex": "t.*",
               "completion": {"field": "text"}}},
    ):
        with pytest.raises(DslError):
            suggest_completion(docs, {"suggest": bad})


# --------------------------------------------------------------------------
# phrase suggester (round 5)
# --------------------------------------------------------------------------

def _plev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _phrase_oracle(docs_pdf, toks, gen_opts, gram=2, rwel=0.95,
                   conf=1.0, max_errors=1, discount=0.4, size=5):
    """Independent python replay of the engine's documented phrase
    suggester model: Counter-based n-gram stats, _suggest_oracle
    candidates, noisy-channel stupid-backoff scoring."""
    import math
    from collections import Counter
    from itertools import combinations, product

    tok_lists = tokenize_pandas(docs_pdf["text"]).tolist()
    uni = Counter(t for lst in tok_lists for t in lst)
    big = Counter(p for lst in tok_lists for p in zip(lst, lst[1:]))
    n_tok = sum(len(lst) for lst in tok_lists)
    cands = {}
    for p, t in enumerate(toks):
        got = [g[0] for g in _suggest_oracle(docs_pdf, t, gen_opts)]
        if got:
            cands[p] = got

    def score(terms, changed):
        s = 0.0
        for i, w in enumerate(terms):
            pu = uni.get(w, 0) / n_tok
            if gram == 1 or i == 0:
                p = pu
            else:
                cb = big.get((terms[i - 1], w), 0)
                cp = uni.get(terms[i - 1], 0)
                p = cb / cp if cb > 0 and cp > 0 else discount * pu
            s += math.log10(max(p, 1e-30))
        for i, w in enumerate(terms):
            if i in changed:
                sim = 1.0 - _plev(toks[i], w) / min(len(toks[i]), len(w))
                s += math.log10(max((1.0 - rwel) * sim, 1e-30))
            else:
                s += math.log10(rwel)
        return s

    base = score(tuple(toks), set())
    seqs = {}
    positions = [p for p in range(len(toks)) if p in cands]
    for k in range(0, max_errors + 1):
        for subset in combinations(positions, k):
            for choice in product(*[cands[p] for p in subset]):
                terms = list(toks)
                for p, c in zip(subset, choice):
                    terms[p] = c
                key = tuple(terms)
                if key not in seqs:
                    seqs[key] = tuple(
                        p for p, c in zip(subset, choice)
                        if c != toks[p])
    out = []
    for terms, changed in seqs.items():
        if not changed:
            continue
        s = score(terms, set(changed))
        if conf > 0 and s <= base + math.log10(conf):
            continue
        out.append((" ".join(terms), s))
    # sort on the UNROUNDED score (the engine's rule), round for
    # comparison only — rounding before sorting is a latent flake
    out.sort(key=lambda x: (-x[1], x[0]))
    return [(t, round(s, 6)) for t, s in out[:size]]


def test_phrase_suggester(spark, docs, docs_pdf):
    """ES phrase suggester: noisy-channel corrections vs the
    independent python replay — default missing-mode generation,
    unigram vs bigram LM, max_errors=2 double corrections, the
    confidence gate, and fail-loud validation."""
    from prow_jobs_scraper_spark.search.suggest import suggest_phrase

    gen = {"prefix_length": 0}

    def run(text, **ph):
        req = {"suggest": {"fix": {"text": text, "phrase": {
            "field": "text",
            "direct_generator": [{"prefix_length": 0}], **ph}}}}
        return suggest_phrase(docs, req).toPandas()

    def check(name, got, want):
        assert got["suggestion"].tolist() == [w[0] for w in want], name
        np.testing.assert_allclose(
            got["score"].to_numpy(), [w[1] for w in want],
            rtol=0, atol=1e-6, err_msg=name)
        assert got["rank"].tolist() == list(range(1, len(want) + 1))

    # one OOV token: corrections substitute it; the in-vocab token is
    # kept (default missing-mode generation)
    got = run("mash spark")
    want = _phrase_oracle(docs_pdf, ["mash", "spark"], gen)
    assert len(got) > 0 and all(
        s.endswith(" spark") for s in got["suggestion"])
    check("missing-2tok", got, want)

    # unigram LM scores differently from the bigram default
    got1 = run("mash spark", gram_size=1)
    want1 = _phrase_oracle(docs_pdf, ["mash", "spark"], gen, gram=1)
    check("gram1", got1, want1)
    assert got1["score"].tolist() != got["score"].tolist()

    # two OOV tokens + max_errors=2: both positions corrected at once
    got2 = run("mash tokn", max_errors=2,
               smoothing={"stupid_backoff": {"discount": 0.2}})
    want2 = _phrase_oracle(docs_pdf, ["mash", "tokn"], gen,
                           max_errors=2, discount=0.2)
    check("two-errors", got2, want2)
    assert any(" " in s and "mash" not in s and "tokn" not in s
               for s in got2["suggestion"])

    # confidence: real-word rewrites of an in-vocab phrase must BEAT
    # the input at c=1 (rwel channel penalty) — c=0 disables the gate
    ph_always = {"direct_generator": [
        {"prefix_length": 0, "suggest_mode": "always"}]}
    g_c1 = run("term spark", **ph_always)
    g_c0 = run("term spark", confidence=0, size=50, **ph_always)
    assert len(g_c0) >= len(g_c1)
    w_c0 = _phrase_oracle(
        docs_pdf, ["term", "spark"],
        {"prefix_length": 0, "suggest_mode": "always"},
        conf=0, size=50)
    check("conf0", g_c0, w_c0)

    # validation fails loud
    for bad in (
        {"field": "text", "gram_size": 3},
        {"field": "text", "smoothing": {"laplace": {"alpha": 0.5}}},
        {"field": "text", "max_errors": 0},
        {"field": "text", "direct_generator": [{}, {}]},
        {"field": "text", "collate": {}},
        {"field": "text",
         "direct_generator": [{"field": "other"}]},
    ):
        with pytest.raises(DslError):
            suggest_phrase(docs, {"suggest": {"x": {
                "text": "mash spark", "phrase": bad}}})


# --------------------------------------------------------------------------
# top_hits sub-aggregation (round 5)
# --------------------------------------------------------------------------

def test_top_hits(spark, docs, docs_pdf, dsl_index):
    """ES top_hits under a terms bucket: flattened (key, doc_count,
    hit_rank, _source...) rows vs an independent pandas replay; naive
    == indexed; bucket size/min_doc_count interplay; validation."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"query": {"match": {"text": {"query": "spark agent",
                                        "operator": "or"}}},
           "aggs": {"by_role": {
               "terms": {"field": "role", "size": 2},
               "aggs": {"latest": {"top_hits": {
                   "size": 3,
                   "sort": [{"ts": "desc"}],
                   "_source": ["conv_id", "turn_idx"]}}}}}}
    got = dsl_aggregate(docs, req).toPandas()

    # pandas replay: qualifying set via the shared oracle machinery
    spec = parse_query(req["query"])
    fstats = _field_stats(docs_pdf, {c.field for c in spec.text_clauses()})
    ok, _tot, qual, _sc = _spec_eval(docs_pdf, fstats, len(docs_pdf), spec)
    assert ok
    hits = docs_pdf[qual]
    counts = hits.groupby("role").size()
    want_rows = []
    roles_ranked = sorted(counts.index,
                          key=lambda r: (-counts[r], r))[:2]
    for role in roles_ranked:
        grp = (hits[hits["role"] == role]
               .sort_values(["ts", "doc_id"], ascending=[False, True])
               .head(3))
        for i, (_, r) in enumerate(grp.iterrows(), 1):
            want_rows.append((role, int(counts[role]), i,
                              r["conv_id"], int(r["turn_idx"])))
    want = pd.DataFrame(want_rows, columns=[
        "key", "doc_count", "hit_rank", "conv_id", "turn_idx"])
    got_c = got.reset_index(drop=True)
    assert got_c["key"].tolist() == want["key"].tolist()
    assert got_c["doc_count"].tolist() == want["doc_count"].tolist()
    assert got_c["hit_rank"].tolist() == want["hit_rank"].tolist()
    assert got_c["conv_id"].tolist() == want["conv_id"].tolist()
    assert got_c["turn_idx"].tolist() == want["turn_idx"].tolist()

    gi = dsl_aggregate_indexed(spark, dsl_index, req,
                               docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), gi.reset_index(drop=True),
        check_dtype=False)

    # histogram parent works too; min_doc_count prunes buckets
    req2 = {"query": {"match_all": {}},
            "aggs": {"by_turn": {
                "histogram": {"field": "turn_idx", "interval": 5,
                              "min_doc_count": 2},
                "aggs": {"h": {"top_hits": {
                    "size": 1, "sort": [{"ts": "asc"}],
                    "_source": ["conv_id"]}}}}}}
    g2 = dsl_aggregate(docs, req2).toPandas()
    assert (g2["doc_count"] >= 2).all()
    assert (g2["hit_rank"] == 1).all()
    gi2 = dsl_aggregate_indexed(spark, dsl_index, req2,
                                docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(
        g2.reset_index(drop=True), gi2.reset_index(drop=True),
        check_dtype=False)

    base = {"terms": {"field": "role"}}
    for bad_sub in (
        {"h": {"top_hits": {"sort": [{"ts": "desc"}]}}},  # no _source
        {"h": {"top_hits": {"_source": ["conv_id"]}}},    # no sort
        {"h": {"top_hits": {"sort": [{"_score": "desc"}],
                            "_source": ["conv_id"]}}},
        {"h": {"top_hits": {"sort": [{"ts": "desc"}],
                            "_source": ["nope"]}}},
        {"h": {"top_hits": {"sort": [{"nope": "desc"}],
                            "_source": ["conv_id"]}}},
        {"h": {"top_hits": {"sort": [{"ts": "desc"}],
                            "_source": ["conv_id"],
                            "highlight": {}}}},
        {"h": {"top_hits": {"sort": [{"ts": "desc"}],
                            "_source": ["conv_id"]}},
         "m": {"avg": {"field": "turn_idx"}}},  # must be the only sub
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {
                "query": {"match_all": {}},
                "aggs": {"x": {**base, "aggs": bad_sub}}}).collect()


# --------------------------------------------------------------------------
# highlight (round 5)
# --------------------------------------------------------------------------

def test_highlight(spark, docs, docs_pdf, dsl_index):
    """ES highlight (whole-field mode): occurrences of every
    positively-matchable query term wrapped in tags, verified against
    a duckdb regexp_replace replay; fuzzy expansions highlight too;
    naive == indexed; fail-loud validation."""
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
    )

    req = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark agent",
                                     "operator": "or"}}}],
        "filter": [{"match": {"text": "the_hot_term"}}],
        "must_not": [{"match": {"text": "w00042"}}],
    }},
        "size": 8,
        "highlight": {"fields": {"text": {}},
                      "number_of_fragments": 0}}
    got = execute_request(docs, req).toPandas()
    assert list(got.columns) == ["doc_id", "score", "highlight_text"]
    assert len(got) == 8

    # duckdb replay: join the hit ids to the corpus, apply the same
    # anchored-word regexp with RE2 'gi' semantics; must_not term
    # (w00042) must NOT be in the pattern
    con = duckdb.connect()
    con.register("docs", docs_pdf[["doc_id", "text"]])
    con.register("hits", got[["doc_id"]])
    pat = r"\b(agent|spark|the_hot_term)\b"
    want = con.execute(
        "SELECT h.doc_id, regexp_replace(d.text, ?, "
        "'<em>\\1</em>', 'gi') AS hl "
        "FROM hits h JOIN docs d USING (doc_id) ORDER BY h.doc_id",
        [pat]).fetchdf()
    g = got.sort_values("doc_id").reset_index(drop=True)
    assert g["highlight_text"].tolist() == want["hl"].tolist()
    assert g["highlight_text"].str.contains("<em>").all()

    gi = execute_request_indexed(spark, dsl_index, req,
                                 docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  gi.reset_index(drop=True))

    # custom tags + fuzzy expansion terms get highlighted
    reqf = {"query": {"fuzzy": {"text": {
        "value": "w00042", "fuzziness": 1, "prefix_length": 3}}},
        "size": 5,
        "highlight": {"fields": {"text": {
            "number_of_fragments": 0}},
            "pre_tags": ["["], "post_tags": ["]"]}}
    gf = execute_request(docs, reqf).toPandas()
    assert len(gf) > 0
    # the tags wrap EXPANSION terms (w00... neighbors), not the
    # misspelled input itself
    assert gf["highlight_text"].str.contains(r"\[w00[0-9a-z]+\]").all()
    gfi = execute_request_indexed(spark, dsl_index, reqf,
                                  docs_df=docs).toPandas()
    pd.testing.assert_frame_equal(gf.reset_index(drop=True),
                                  gfi.reset_index(drop=True))

    # a hit whose highlighted field contains no positive term -> NULL
    reqn = {"query": {"bool": {
        "filter": [{"term": {"role": "tool"}}]}},
        "size": 3,
        "highlight": {"fields": {"text": {}},
                      "number_of_fragments": 0}}
    gn = execute_request(docs, reqn).toPandas()
    assert gn["highlight_text"].isna().all()  # no text clause at all

    for bad in (
        {"highlight": {"fields": {"text": {}}}},          # nf missing
        {"highlight": {"fields": {"text": {}},
                       "number_of_fragments": -1}},
        {"highlight": {"fields": {}}},
        {"highlight": {"fields": {"text": {}},
                       "number_of_fragments": 3,
                       "fragment_size": 0}},
        {"highlight": {"fields": {"text": {}},
                       "number_of_fragments": 3,
                       "order": "relevance"}},
        {"highlight": {"fields": {"text": {"type": "fvh"}},
                       "number_of_fragments": 0}},
        {"highlight": {"fields": {"text": {}},
                       "number_of_fragments": 0},
         "sort": [{"n_chars": "desc"}]},
        {"highlight": {"fields": {"text": {}},
                       "number_of_fragments": 0},
         "rescore": {"query": {"rescore_query": {
             "match": {"text": "x"}}}}},
    ):
        with pytest.raises(DslError):
            execute_request(docs, {
                "query": {"match": {"text": "spark"}}, **bad})
    with pytest.raises(DslError):  # indexed needs the corpus text
        execute_request_indexed(spark, dsl_index, req, docs_df=None)


def _fragment_oracle(text, terms, nf, fsize, order, pre="<em>",
                     post="</em>"):
    """Independent python replay of the engine's documented fragmenter
    rules (whitespace-boundary greedy fragments, match-count scoring,
    position tiebreak, text-order or score-order output)."""
    import re

    if text is None:
        return None
    rx = re.compile(r"\b(" + "|".join(terms) + r")\b", re.IGNORECASE)
    spans = [(m.start(), m.end())
             for m in re.finditer(r"\S+", text)]
    if not spans:
        return None
    frags, i = [], 0
    while i < len(spans):
        start, end, j = spans[i][0], spans[i][1], i + 1
        while j < len(spans) and spans[j][1] - start <= fsize:
            end = spans[j][1]
            j += 1
        frags.append(text[start:end])
        i = j
    scored = [(-len(rx.findall(c)), pos, c)
              for pos, c in enumerate(frags) if rx.findall(c)]
    if not scored:
        return None
    scored.sort()
    top = scored[:nf]
    if order == "none":
        top.sort(key=lambda x: x[1])
    return [rx.sub(pre + r"\1" + post, c) for _, _, c in top]


def test_fragment_highlight(spark, docs, docs_pdf, dsl_index):
    """Fragmenting highlighter (number_of_fragments > 0): array of
    tagged fragments vs the independent python replay, text-order vs
    score-order, indexed == naive, NULL on matchless fields."""
    from prow_jobs_scraper_spark.search.dsl import (
        execute_request,
        execute_request_indexed,
    )

    req = {"query": {"match": {"text": {"query": "spark agent",
                                        "operator": "or"}}},
           "size": 8,
           "highlight": {"fields": {"text": {}},
                         "number_of_fragments": 2,
                         "fragment_size": 60}}
    got = execute_request(docs, req).toPandas()
    assert list(got.columns) == ["doc_id", "score", "highlight_text"]
    text_of = dict(zip(docs_pdf["doc_id"], docs_pdf["text"]))
    for _, r in got.iterrows():
        want = _fragment_oracle(text_of[r["doc_id"]],
                                ["agent", "spark"], 2, 60, "none")
        assert list(r["highlight_text"]) == want, r["doc_id"]
        assert len(r["highlight_text"]) <= 2
        assert all("<em>" in f for f in r["highlight_text"])
    gi = execute_request_indexed(spark, dsl_index, req,
                                 docs_df=docs).toPandas()
    assert [list(x) for x in gi["highlight_text"]] \
        == [list(x) for x in got["highlight_text"]]

    # order: score puts the best fragment first even when it appears
    # later in the text; verify against the replay on every hit
    reqs = {**req, "highlight": {**req["highlight"], "order": "score"}}
    gs = execute_request(docs, reqs).toPandas()
    for _, r in gs.iterrows():
        want = _fragment_oracle(text_of[r["doc_id"]],
                                ["agent", "spark"], 2, 60, "score")
        assert list(r["highlight_text"]) == want, r["doc_id"]

    # a fragment request on a field with no positive term -> NULL array
    reqn = {"query": {"bool": {"filter": [{"term": {"role": "user"}}]}},
            "size": 3,
            "highlight": {"fields": {"text": {}},
                          "number_of_fragments": 2}}
    gn = execute_request(docs, reqn).toPandas()
    assert gn["highlight_text"].isna().all()


def test_missing_agg(spark, docs, docs_pdf, dsl_index):
    """ES `missing` bucket agg flattened to its doc_count: NULL-field
    docs of the qualifying set — naive == indexed == pandas."""
    from prow_jobs_scraper_spark.search.dsl import (
        dsl_aggregate,
        dsl_aggregate_indexed,
    )

    req = {"query": {"match": {"text": {"query": "spark agent",
                                        "operator": "or"}}},
           "aggs": {"no_tool": {"missing": {"field": "tool"}}}}
    got = dsl_aggregate(docs, req).toPandas()
    spec = parse_query(req["query"])
    fstats = _field_stats(docs_pdf, {c.field for c in spec.text_clauses()})
    ok, _t, qual, _s = _spec_eval(docs_pdf, fstats, len(docs_pdf), spec)
    want = int(docs_pdf[qual]["tool"].isna().sum())
    assert got["no_tool"].tolist() == [want] and want > 0
    gi = dsl_aggregate_indexed(spark, dsl_index, req,
                               docs_df=docs).toPandas()
    assert gi["no_tool"].tolist() == [want]

    # provably-empty query -> 0, not NULL
    req0 = {"query": {"match": {"text": "zzz_absent"}},
            "aggs": {"m": {"missing": {"field": "tool"}}}}
    assert dsl_aggregate(docs, req0).toPandas()["m"].tolist() == [0]

    for bad in (
        {"m": {"missing": {"field": "nope"}}},
        {"m": {"missing": {"field": "tool", "size": 3}}},
        {"m": {"missing": {"field": "tool"},
               "aggs": {"x": {"avg": {"field": "turn_idx"}}}}},
    ):
        with pytest.raises(DslError):
            dsl_aggregate(docs, {"query": {"match_all": {}},
                                 "aggs": bad}).collect()


# --------------------------------------------------------------------------
# ES 8 kNN search (round 5, resumed closing)
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def vec_docs(spark, docs_pdf):
    """The corpus with a deterministic dense-vector column attached —
    same doc_ids/text as the `docs` fixture, so the dsl_index built
    from `docs` serves as the query side of hybrid requests."""
    rng = np.random.default_rng(7)
    pdf = docs_pdf[["doc_id", "text", "role", "turn_idx"]].copy()
    emb = rng.standard_normal((len(pdf), 8))
    pdf = pdf.reset_index(drop=True)
    pdf["embedding"] = [list(map(float, r)) for r in emb]
    return spark.createDataFrame(pdf).cache(), pdf


def _knn_oracle(pdf, qv, metric, boost=1.0, min_sim=None, mask=None):
    """Independent numpy replay of the engine's knn arithmetic."""
    E = np.stack([np.asarray(v, dtype=float) for v in pdf["embedding"]])
    q = np.asarray(qv, dtype=float)
    dot = E @ q
    if metric == "l2_norm":
        raw = ((E - q) ** 2).sum(axis=1)
        score = 1.0 / (1.0 + raw)
    else:
        if metric == "cosine":
            qn = np.linalg.norm(q) or 1e-12
            raw = dot / (np.linalg.norm(E, axis=1) * qn + 1e-12)
        else:
            raw = dot
        score = (1.0 + raw) / 2.0
    out = pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                        "score": score * boost, "raw": raw})
    if mask is not None:
        out = out[np.asarray(mask)]
    if min_sim is not None:
        out = out[out["raw"] >= min_sim]
    return (out.sort_values(["score", "doc_id"],
                            ascending=[False, True])
            .reset_index(drop=True))


def test_knn_search(spark, docs, dsl_index, vec_docs):
    """ES 8 `_search` `knn`: exact vector top-k (all-Catalyst zip_with
    arithmetic), the three metric transforms, the raw-similarity cut,
    the ES pre-filter, and the hybrid query+knn score-sum merge —
    each against an independent numpy oracle; the indexed executor
    (query side from the index, vectors from docs_df) must equal the
    naive one; malformed bodies and unsupported combos fail loud."""
    vdf, vpdf = vec_docs
    rng = np.random.default_rng(11)
    qv = [float(x) for x in rng.standard_normal(8)]

    for metric in ("cosine", "dot_product", "l2_norm"):
        got = execute_request(vdf, {"knn": {
            "field": "embedding", "query_vector": qv, "k": 7,
            "num_candidates": 50, "metric": metric},
            "size": 7}).toPandas()
        want = _knn_oracle(vpdf, qv, metric).head(7)
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), metric
        assert np.allclose(got["score"], want["score"]), metric

    # default metric is cosine; boost scales the transformed score
    gb = execute_request(vdf, {"knn": {
        "field": "embedding", "query_vector": qv, "k": 5,
        "boost": 3.0}}).toPandas()
    wb = _knn_oracle(vpdf, qv, "cosine", boost=3.0).head(5)
    assert gb["doc_id"].tolist() == wb["doc_id"].tolist()
    assert np.allclose(gb["score"], wb["score"])

    # similarity: the raw cosine cut, applied before boost
    med = float(np.quantile(_knn_oracle(vpdf, qv, "cosine")["raw"], 0.9))
    gs = execute_request(vdf, {"knn": {
        "field": "embedding", "query_vector": qv, "k": 500,
        "similarity": med}, "size": 500}).toPandas()
    ws = _knn_oracle(vpdf, qv, "cosine", min_sim=med)
    assert gs["doc_id"].tolist() == ws["doc_id"].tolist()

    # filter: qualification BEFORE the top-k cut (every hit satisfies)
    gf = execute_request(vdf, {"knn": {
        "field": "embedding", "query_vector": qv, "k": 6,
        "filter": {"term": {"role": "user"}}}}).toPandas()
    wf = _knn_oracle(vpdf, qv, "cosine",
                     mask=(vpdf["role"] == "user").to_numpy()).head(6)
    assert gf["doc_id"].tolist() == wf["doc_id"].tolist()

    # hybrid: query + knn, score = sum of sides (absent side -> 0)
    q = {"match": {"text": {"query": "spark agent", "operator": "or"}}}
    hyb = {"query": q, "knn": {"field": "embedding", "query_vector": qv,
                               "k": 10, "boost": 5.0}, "size": 10}
    gh = execute_request(vdf, hyb).toPandas()
    qall = search_dsl(vdf, {"query": q}, 100_000).toPandas()
    qmap = dict(zip(qall["doc_id"], qall["score"]))
    kside = _knn_oracle(vpdf, qv, "cosine", boost=5.0).head(10)
    kmap = dict(zip(kside["doc_id"], kside["score"]))
    merged = pd.DataFrame(
        {"doc_id": list(set(qmap) | set(kmap))})
    merged["score"] = [qmap.get(d, 0.0) + kmap.get(d, 0.0)
                       for d in merged["doc_id"]]
    wh = (merged.sort_values(["score", "doc_id"],
                             ascending=[False, True]).head(10))
    assert gh["doc_id"].tolist() == wh["doc_id"].tolist()
    assert np.allclose(gh["score"], wh["score"])

    # indexed executor: query side from the index, vectors from docs_df
    gi = execute_request_indexed(spark, dsl_index, hyb,
                                 docs_df=vdf).toPandas()
    assert gi["doc_id"].tolist() == gh["doc_id"].tolist()
    assert np.allclose(gi["score"], gh["score"])

    # from/size pagination over the merged ranking
    gp = execute_request(vdf, {**hyb, "size": 3, "from": 4}).toPandas()
    assert gp["doc_id"].tolist() == wh["doc_id"].tolist()[4:7]

    # NULL vectors never match; wrong dimension raises
    from pyspark.sql import functions as SF
    vnull = vdf.withColumn(
        "embedding",
        SF.when(SF.col("role") == "user",
                SF.col("embedding")).otherwise(SF.lit(None)))
    gn = execute_request(vnull, {"knn": {
        "field": "embedding", "query_vector": qv, "k": 6}}).toPandas()
    assert gn["doc_id"].tolist() == wf["doc_id"].tolist()  # == filtered
    with pytest.raises(Exception, match="wrong-dimension"):
        execute_request(vdf, {"knn": {
            "field": "embedding", "query_vector": qv[:5],
            "k": 3}}).collect()

    for bad in (
        {"field": "embedding", "query_vector": qv},  # no k
        {"field": "embedding", "k": 3},  # no vector
        {"query_vector": qv, "k": 3},  # no field
        {"field": "embedding", "query_vector": [], "k": 3},
        {"field": "embedding", "query_vector": ["x"], "k": 3},
        {"field": "embedding", "query_vector": qv, "k": 0},
        {"field": "embedding", "query_vector": qv, "k": 5,
         "num_candidates": 3},
        {"field": "embedding", "query_vector": qv, "k": 3,
         "metric": "hamming"},
        {"field": "embedding", "query_vector": qv, "k": 3,
         "metric": "l2_norm", "similarity": 0.5},
        {"field": "embedding", "query_vector": qv, "k": 3,
         "boost": 0},
        {"field": "embedding", "query_vector": qv, "k": 3,
         "rescore_vector": {}},
    ):
        with pytest.raises(DslError):
            execute_request(vdf, {"knn": bad})
    for combo in ({"sort": {"turn_idx": "asc"}},
                  {"aggs": {"m": {"avg": {"field": "turn_idx"}}}},
                  {"search_after": [1.0, 5]},
                  {"collapse": {"field": "role"}}):
        with pytest.raises(DslError):
            execute_request(vdf, {"knn": {
                "field": "embedding", "query_vector": qv, "k": 3},
                **combo})
    with pytest.raises(DslError, match="docs_df"):
        execute_request_indexed(spark, dsl_index, {"knn": {
            "field": "embedding", "query_vector": qv, "k": 3}})


# --------------------------------------------------------------------------
# terms_set (Lucene CoveringQuery: per-doc minimum_should_match)
# --------------------------------------------------------------------------

_TS_TERMS = ["spark", "agent", "tool_call"]


def _terms_set_oracle(pdf, fstats, n, terms, min_vec):
    """Independent CoveringQuery oracle: hits >= max(1, trunc(minimum)),
    NaN minimum never matches, score = sum of the MATCHED terms' BM25."""
    from prow_jobs_scraper_spark.search.dsl import TextClause
    parts = [_clause_eval(pdf, fstats, n, TextClause(field="text", text=t))
             for t in terms]
    hits = np.stack([m for _, m in parts]).sum(axis=0)
    score = np.stack([np.where(m, s, 0.0) for s, m in parts]).sum(axis=0)
    minv = np.maximum(1.0, np.trunc(min_vec))
    matched = ~np.isnan(min_vec) & (hits >= minv)
    return score, matched


def _topk_oracle(pdf, score, matched, k):
    out = pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy()[matched],
                        "score": score[matched]})
    return (out.sort_values(["score", "doc_id"], ascending=[False, True],
                            kind="mergesort").head(k).reset_index(drop=True))


def test_terms_set_field_minimum(spark, docs, docs_pdf, dsl_index):
    """minimum_should_match_field: the per-doc minimum comes from a
    numeric doc column (turn_idx — varied 0..99 in the fixture, so the
    clamp-to->=1 at 0 and the never-matches-above-3 tail are both
    exercised), score is the sum of the matched terms' BM25."""
    q = {"query": {"terms_set": {"text": {
        "terms": _TS_TERMS, "minimum_should_match_field": "turn_idx"}}}}
    fstats = _field_stats(docs_pdf, {"text"})
    score, matched = _terms_set_oracle(
        docs_pdf, fstats, len(docs_pdf), _TS_TERMS,
        docs_pdf["turn_idx"].to_numpy(dtype=np.float64))
    want = _topk_oracle(docs_pdf, score, matched, 10)
    got = search_dsl(docs, q, 10).toPandas()
    _assert_rank_identical(got, want, "terms_set field naive")
    gi = search_dsl_indexed(spark, dsl_index, q, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, want, "terms_set field indexed")
    # duplicate terms collapse (Lucene TermInSetQuery)
    qd = {"query": {"terms_set": {"text": {
        "terms": [_TS_TERMS[0]] + _TS_TERMS,
        "minimum_should_match_field": "turn_idx"}}}}
    gd = search_dsl(docs, qd, 10).toPandas()
    pd.testing.assert_frame_equal(gd, got)
    # boost scales scores, order unchanged
    qb = {"query": {"terms_set": {"text": {
        "terms": _TS_TERMS, "minimum_should_match_field": "turn_idx",
        "boost": 2.5}}}}
    gb = search_dsl(docs, qb, 10).toPandas()
    assert gb["doc_id"].tolist() == got["doc_id"].tolist()
    np.testing.assert_allclose(gb["score"], got["score"] * 2.5, rtol=1e-9)
    gbi = search_dsl_indexed(spark, dsl_index, qb, 10,
                             docs_df=docs).toPandas()
    _assert_rank_identical(gbi, gb, "terms_set boost indexed")


def test_terms_set_script_minimum(spark, docs, docs_pdf, dsl_index):
    """minimum_should_match_script: the ES-documented idiom
    Math.min(params.num_terms, doc['required'].value) through the
    painless subset; params.num_terms injects automatically."""
    q = {"query": {"terms_set": {"text": {
        "terms": _TS_TERMS,
        "minimum_should_match_script": {
            "source": "Math.min(params.num_terms, doc['turn_idx'].value)"
        }}}}}
    fstats = _field_stats(docs_pdf, {"text"})
    min_vec = np.minimum(
        float(len(_TS_TERMS)),
        docs_pdf["turn_idx"].to_numpy(dtype=np.float64))
    score, matched = _terms_set_oracle(
        docs_pdf, fstats, len(docs_pdf), _TS_TERMS, min_vec)
    want = _topk_oracle(docs_pdf, score, matched, 10)
    got = search_dsl(docs, q, 10).toPandas()
    _assert_rank_identical(got, want, "terms_set script naive")
    gi = search_dsl_indexed(spark, dsl_index, q, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, want, "terms_set script indexed")
    # bare string form == {"source": ...} form
    qs = {"query": {"terms_set": {"text": {
        "terms": _TS_TERMS,
        "minimum_should_match_script":
            "Math.min(params.num_terms, doc['turn_idx'].value)"}}}}
    gs = search_dsl(docs, qs, 10).toPandas()
    pd.testing.assert_frame_equal(gs, got)


def test_terms_set_null_minimum_never_matches(spark, docs, docs_pdf):
    """A doc whose minimum field is NULL never matches (Lucene
    LongValuesSource.advanceExact false), even when every term hits."""
    from pyspark.sql import functions as F
    d2 = docs.withColumn(
        "req", F.when(F.col("turn_idx") % 2 == 0, F.lit(None))
                .otherwise(F.lit(1)))
    q = {"query": {"terms_set": {"text": {
        "terms": _TS_TERMS, "minimum_should_match_field": "req"}}}}
    fstats = _field_stats(docs_pdf, {"text"})
    min_vec = np.where(docs_pdf["turn_idx"].to_numpy() % 2 == 0,
                       np.nan, 1.0)
    score, matched = _terms_set_oracle(
        docs_pdf, fstats, len(docs_pdf), _TS_TERMS, min_vec)
    want = _topk_oracle(docs_pdf, score, matched, 15)
    got = search_dsl(d2, q, 15).toPandas()
    _assert_rank_identical(got, want, "terms_set null minimum")
    assert (docs_pdf.set_index("doc_id").loc[got["doc_id"]]
            .reset_index()["turn_idx"] % 2 == 1).all()


def test_terms_set_bool_contexts(spark, docs, docs_pdf, dsl_index):
    """terms_set as a bool child: filter qualifies at zero score
    contribution, must_not excludes, should adds score and counts
    toward minimum_should_match — naive == indexed for each."""
    ts = {"terms_set": {"text": {
        "terms": _TS_TERMS, "minimum_should_match_field": "turn_idx"}}}
    fstats = _field_stats(docs_pdf, {"text"})
    sc_ts, m_ts = _terms_set_oracle(
        docs_pdf, fstats, len(docs_pdf), _TS_TERMS,
        docs_pdf["turn_idx"].to_numpy(dtype=np.float64))
    from prow_jobs_scraper_spark.search.dsl import TextClause
    sc_hot, m_hot = _clause_eval(
        docs_pdf, fstats, len(docs_pdf),
        TextClause(field="text", text="the_hot_term"))

    # filter: anchor scores, terms_set only qualifies
    qf = {"query": {"bool": {"must": [{"match": {"text": "the_hot_term"}}],
                             "filter": [ts]}}}
    want = _topk_oracle(docs_pdf, np.where(m_hot, sc_hot, 0.0),
                        m_hot & m_ts, 10)
    got = search_dsl(docs, qf, 10).toPandas()
    _assert_rank_identical(got, want, "terms_set filter naive")
    gi = search_dsl_indexed(spark, dsl_index, qf, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, want, "terms_set filter indexed")

    # must_not: excludes the covering docs
    qn = {"query": {"bool": {"must": [{"match": {"text": "the_hot_term"}}],
                             "must_not": [ts]}}}
    want = _topk_oracle(docs_pdf, np.where(m_hot, sc_hot, 0.0),
                        m_hot & ~m_ts, 10)
    got = search_dsl(docs, qn, 10).toPandas()
    _assert_rank_identical(got, want, "terms_set must_not naive")
    gi = search_dsl_indexed(spark, dsl_index, qn, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, want, "terms_set must_not indexed")

    # should: scores add where matched; msm=1 makes it the sole anchor
    qs = {"query": {"bool": {"should": [ts],
                             "minimum_should_match": 1}}}
    want = _topk_oracle(docs_pdf, np.where(m_ts, sc_ts, 0.0), m_ts, 10)
    got = search_dsl(docs, qs, 10).toPandas()
    _assert_rank_identical(got, want, "terms_set should naive")
    gi = search_dsl_indexed(spark, dsl_index, qs, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, want, "terms_set should indexed")

    # should next to a scoring must: additive decoration
    qm = {"query": {"bool": {"must": [{"match": {"text": "the_hot_term"}}],
                             "should": [ts]}}}
    want = _topk_oracle(
        docs_pdf,
        np.where(m_hot, sc_hot, 0.0) + np.where(m_ts, sc_ts, 0.0),
        m_hot, 10)
    got = search_dsl(docs, qm, 10).toPandas()
    _assert_rank_identical(got, want, "terms_set should+must naive")
    gi = search_dsl_indexed(spark, dsl_index, qm, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, want, "terms_set should+must indexed")


def test_terms_set_validation():
    """Out-of-grammar terms_set bodies fail loud."""
    good_terms = {"terms": ["spark", "agent"]}
    for bad in (
        {},                                             # no field
        {"text": "spark"},                              # body not dict
        {"text": {}},                                   # no terms
        {"text": {"terms": []}},                        # empty terms
        {"text": {"terms": [1]}},                       # non-string term
        {"text": good_terms},                           # no minimum source
        {"text": {**good_terms,                         # both sources
                  "minimum_should_match_field": "a",
                  "minimum_should_match_script": "1"}},
        {"text": {**good_terms,                         # unknown option
                  "minimum_should_match_field": "a", "nope": 1}},
        {"text": {**good_terms,                         # bad boost
                  "minimum_should_match_field": "a", "boost": 0}},
        {"text": {"terms": ["two words"],               # multi-token term
                  "minimum_should_match_field": "a"}},
        {"text": {**good_terms,                         # _score in minimum
                  "minimum_should_match_script": "_score + 1"}},
        {"text": {**good_terms,                         # unknown script key
                  "minimum_should_match_script": {"source": "1",
                                                  "lang": "painless"}}},
        {"text": good_terms, "other": good_terms},      # two fields
    ):
        with pytest.raises(DslError):
            parse_query({"terms_set": bad})


def test_match_none(spark, docs, dsl_index):
    """ES `match_none`: matches no documents — empty top-level, empty
    in must/filter, a no-op in must_not, a live-but-never-firing
    clause for minimum_should_match in should; filters-agg bucket is
    empty; non-empty bodies fail loud."""
    from prow_jobs_scraper_spark.search.dsl import dsl_aggregate

    assert search_dsl(docs, {"query": {"match_none": {}}}, 5).count() == 0
    assert search_dsl_indexed(
        spark, dsl_index, {"query": {"match_none": {}}}, 5).count() == 0
    hot = {"match": {"text": "the_hot_term"}}
    base = search_dsl(docs, {"query": hot}, 10).toPandas()
    for ctx in ("must", "filter"):
        q = {"query": {"bool": {"must": [hot],
                                ctx: [{"match_none": {}}]
                                if ctx != "must" else
                                [hot, {"match_none": {}}]}}}
        assert search_dsl(docs, q, 5).count() == 0
        assert search_dsl_indexed(spark, dsl_index, q, 5).count() == 0
    # must_not match_none: a no-op — identical rows to the plain query
    qn = {"query": {"bool": {"must": [hot],
                             "must_not": [{"match_none": {}}]}}}
    got = search_dsl(docs, qn, 10).toPandas()
    pd.testing.assert_frame_equal(got, base)
    gi = search_dsl_indexed(spark, dsl_index, qn, 10).toPandas()
    assert gi["doc_id"].tolist() == base["doc_id"].tolist()
    # should match_none counts as a clause for msm but never fires:
    # msm=2 with one live should -> only docs matching BOTH shoulds
    # could qualify -> empty; msm=1 -> the live should carries it
    q2 = {"query": {"bool": {"should": [hot, {"match_none": {}}],
                             "minimum_should_match": 2}}}
    assert search_dsl(docs, q2, 5).count() == 0
    assert search_dsl_indexed(spark, dsl_index, q2, 5).count() == 0
    q1 = {"query": {"bool": {"should": [hot, {"match_none": {}}],
                             "minimum_should_match": 1}}}
    g1 = search_dsl(docs, q1, 10).toPandas()
    _assert_rank_identical(g1, base, "match_none should msm=1")
    # filters agg: the match_none bucket exists with doc_count 0
    agg = dsl_aggregate(docs, {"aggs": {"b": {"filters": {"filters": {
        "all": {"match_all": {}},
        "none": {"match_none": {}}}}}}, "size": 0}).toPandas()
    by_key = dict(zip(agg["key"], agg["doc_count"]))
    assert by_key["none"] == 0 and by_key["all"] == docs.count()
    with pytest.raises(DslError):
        parse_query({"match_none": {"boost": 2}})
    with pytest.raises(DslError):
        parse_query({"bool": {"must": [{"match_none": {"x": 1}}]}})


# --------------------------------------------------------------------------
# span algebra: span_first / span_or
# --------------------------------------------------------------------------

def test_span_first(spark, docs, docs_pdf, dsl_index, tmp_path_factory):
    """Lucene SpanFirstQuery: the wrapped span_term must END at or
    before `end` (0-based position p, p + 1 <= end). Oracle = pandas
    first-index check on the tokenized text; indexed == naive on both
    the docs_df-recheck and positions-sidecar paths."""
    term = "the_hot_term"
    end = 2
    q = {"query": {"span_first": {
        "match": {"span_term": {"text": term}}, "end": end}}}
    fstats = _field_stats(docs_pdf, {"text"})
    from prow_jobs_scraper_spark.search.dsl import TextClause
    sc, m = _clause_eval(docs_pdf, fstats, len(docs_pdf),
                         TextClause(field="text", text=term))
    toks = tokenize_pandas(docs_pdf["text"].fillna("")).tolist()
    first = np.array([lst.index(term) if term in lst else -1
                      for lst in toks])
    matched = m & (first >= 0) & (first + 1 <= end)
    want = _topk_oracle(docs_pdf, np.where(matched, sc, 0.0), matched, 10)
    got = search_dsl(docs, q, 10).toPandas()
    _assert_rank_identical(got, want, "span_first naive")
    # the hot term is INJECTED at position 0 in ~35% of docs — end=2
    # admits them; a plain match admits strictly more docs
    n_all = search_dsl(docs, {"query": {"match": {"text": term}}},
                       10000).count()
    n_first = search_dsl(docs, q, 10000).count()
    assert 0 < n_first < n_all
    gi = search_dsl_indexed(spark, dsl_index, q, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, want, "span_first indexed recheck")
    # positions-sidecar path (no docs_df)
    dp = str(tmp_path_factory.mktemp("dsl_spanfirst"))
    build_index(spark, docs, dp,
                BuildConfig(n_ranges=8, n_buckets=4, store_positions=True))
    gp = search_dsl_indexed(spark, dp, q, 10).toPandas()
    _assert_rank_identical(gp, want, "span_first indexed positions")
    with pytest.raises(DslError, match="store_positions"):
        search_dsl_indexed(spark, dsl_index, q, 10).toPandas()
    # end=0 can never admit a span (p+1 >= 1 > 0)
    q0 = {"query": {"span_first": {
        "match": {"span_term": {"text": term}}, "end": 0}}}
    assert search_dsl(docs, q0, 5).count() == 0
    # in a bool filter context: qualification only, anchor scores
    qf = {"query": {"bool": {"must": [{"match": {"text": "spark"}}],
                             "filter": [q["query"]]}}}
    a = search_dsl(docs, qf, 10).toPandas()
    b = search_dsl_indexed(spark, dsl_index, qf, 10,
                           docs_df=docs).toPandas()
    _assert_rank_identical(b, a, "span_first filter indexed")
    for bad in (
        {"match": {"span_term": {"text": term}}},            # no end
        {"match": {"span_term": {"text": term}}, "end": -1},
        {"match": {"span_term": {"text": term}}, "end": 1.5},
        {"end": 2},                                           # no match
        {"match": {"match": {"text": term}}, "end": 2},      # non-span
        {"match": {"span_near": {"clauses": [                 # span_near
            {"span_term": {"text": term}}], "slop": 0,
            "in_order": True}}, "end": 2},
        {"match": {"span_term": {"text": term}}, "end": 2, "x": 1},
    ):
        with pytest.raises(DslError):
            parse_query({"span_first": bad})


def test_span_or(spark, docs, docs_pdf, dsl_index):
    """span_or: any child span matches; scores sum over the matched
    children (the engine's documented span scoring family). Equals the
    hand-written bool-should msm=1 of the same desugared children —
    top level and in bool contexts; indexed == naive."""
    so = {"span_or": {"clauses": [
        {"span_term": {"text": "the_hot_term"}},
        {"span_near": {"clauses": [
            {"span_term": {"text": "spark"}},
            {"span_term": {"text": "agent"}}],
            "slop": 3, "in_order": False}},
        {"span_first": {"match": {"span_term": {"text": "tool_call"}},
                        "end": 1}},
    ]}}
    hand = {"bool": {"should": [
        {"span_term": {"text": "the_hot_term"}},
        {"span_near": {"clauses": [
            {"span_term": {"text": "spark"}},
            {"span_term": {"text": "agent"}}],
            "slop": 3, "in_order": False}},
        {"span_first": {"match": {"span_term": {"text": "tool_call"}},
                        "end": 1}}],
        "minimum_should_match": 1}}
    a = search_dsl(docs, {"query": so}, 10).toPandas()
    b = search_dsl(docs, {"query": hand}, 10).toPandas()
    pd.testing.assert_frame_equal(a, b)
    gi = search_dsl_indexed(spark, dsl_index, {"query": so}, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, a, "span_or indexed")
    # as a bool child: filter (qualify only) and must_not (exclude)
    anchor = {"match": {"text": "spark"}}
    qf = {"query": {"bool": {"must": [anchor], "filter": [so]}}}
    qn = {"query": {"bool": {"must": [anchor], "must_not": [so]}}}
    for q in (qf, qn):
        x = search_dsl(docs, q, 10).toPandas()
        y = search_dsl_indexed(spark, dsl_index, q, 10,
                               docs_df=docs).toPandas()
        _assert_rank_identical(y, x, f"span_or bool ctx {q}")
    fa = set(search_dsl(docs, qf, 10000).toPandas()["doc_id"])
    na = set(search_dsl(docs, qn, 10000).toPandas()["doc_id"])
    assert fa and na and not (fa & na)
    for bad in (
        {},                                     # no clauses
        {"clauses": []},
        {"clauses": [{"match": {"text": "x"}}]},  # non-span child
        {"clauses": [{"span_term": {"text": "x"}}], "boost": 2},
        {"clauses": [{"span_not": {}}]},
    ):
        with pytest.raises(DslError):
            parse_query({"span_or": bad})


def test_span_not(spark, docs, docs_pdf, dsl_index, tmp_path_factory):
    """Lucene SpanNotQuery over single-position spans: an include
    occurrence at p survives unless the exclude term occurs at any q in
    [p - pre, p + post]; the doc matches when any occurrence survives.
    Oracle = independent numpy position check; indexed == naive on the
    docs_df-recheck and positions-sidecar paths; dist == pre = post."""
    from prow_jobs_scraper_spark.search.dsl import TextClause

    inc, exc = "spark", "agent"
    fstats = _field_stats(docs_pdf, {"text"})
    toks = tokenize_pandas(docs_pdf["text"].fillna("")).tolist()

    def _want(pre, post, k=10):
        sc, m = _clause_eval(docs_pdf, fstats, len(docs_pdf),
                             TextClause(field="text", text=inc))
        surv = []
        for lst in toks:
            ip = [i for i, t in enumerate(lst) if t == inc]
            ep = [i for i, t in enumerate(lst) if t == exc]
            surv.append(any(
                not any(p - pre <= q <= p + post for q in ep)
                for p in ip))
        matched = m & np.array(surv)
        return _topk_oracle(docs_pdf, np.where(matched, sc, 0.0),
                            matched, k)

    shapes = []
    for pre, post in ((0, 0), (1, 2), (3, 0)):
        q = {"query": {"span_not": {
            "include": {"span_term": {"text": inc}},
            "exclude": {"span_term": {"text": exc}},
            "pre": pre, "post": post}}}
        want = _want(pre, post)
        got = search_dsl(docs, q, 10).toPandas()
        _assert_rank_identical(got, want, f"span_not naive {pre}/{post}")
        gi = search_dsl_indexed(spark, dsl_index, q, 10,
                                docs_df=docs).toPandas()
        _assert_rank_identical(gi, want, f"span_not indexed {pre}/{post}")
        shapes.append(q)
    # exclusion must actually fire: strictly fewer matches than the
    # plain include match at a wide window, non-zero at (0, 0)
    n_all = search_dsl(docs, {"query": {"match": {"text": inc}}},
                       10000).count()
    n00 = search_dsl(docs, shapes[0], 10000).count()
    qwide = {"query": {"span_not": {
        "include": {"span_term": {"text": inc}},
        "exclude": {"span_term": {"text": exc}}, "dist": 50}}}
    nw = search_dsl(docs, qwide, 10000).count()
    assert 0 < nw < n00 <= n_all
    # dist shorthand == explicit pre = post = dist
    qd = {"query": {"span_not": {
        "include": {"span_term": {"text": inc}},
        "exclude": {"span_term": {"text": exc}}, "dist": 2}}}
    qe = {"query": {"span_not": {
        "include": {"span_term": {"text": inc}},
        "exclude": {"span_term": {"text": exc}}, "pre": 2, "post": 2}}}
    pd.testing.assert_frame_equal(search_dsl(docs, qd, 10).toPandas(),
                                  search_dsl(docs, qe, 10).toPandas())
    # positions-sidecar path (no docs_df)
    dp = str(tmp_path_factory.mktemp("dsl_spannot"))
    build_index(spark, docs, dp,
                BuildConfig(n_ranges=8, n_buckets=4, store_positions=True))
    gp = search_dsl_indexed(spark, dp, shapes[1], 10).toPandas()
    _assert_rank_identical(gp, _want(1, 2), "span_not indexed positions")
    with pytest.raises(DslError, match="store_positions"):
        search_dsl_indexed(spark, dsl_index, shapes[0], 10).toPandas()
    # same-term include/exclude can never match (p overlaps itself)
    qs = {"query": {"span_not": {
        "include": {"span_term": {"text": inc}},
        "exclude": {"span_term": {"text": inc}}}}}
    assert search_dsl(docs, qs, 5).count() == 0
    # bool filter context + span_or child: qualification only
    qf = {"query": {"bool": {"must": [{"match": {"text": "agent"}}],
                             "filter": [shapes[0]["query"]]}}}
    a = search_dsl(docs, qf, 10).toPandas()
    b = search_dsl_indexed(spark, dsl_index, qf, 10,
                           docs_df=docs).toPandas()
    _assert_rank_identical(b, a, "span_not filter indexed")
    so = {"query": {"span_or": {"clauses": [
        shapes[0]["query"], {"span_term": {"text": "the_hot_term"}}]}}}
    hand = {"query": {"bool": {"should": [
        shapes[0]["query"], {"span_term": {"text": "the_hot_term"}}],
        "minimum_should_match": 1}}}
    pd.testing.assert_frame_equal(search_dsl(docs, so, 10).toPandas(),
                                  search_dsl(docs, hand, 10).toPandas())
    for bad in (
        {},                                                   # nothing
        {"include": {"span_term": {"text": inc}}},            # no exclude
        {"exclude": {"span_term": {"text": exc}}},            # no include
        {"include": {"match": {"text": inc}},                 # non-span
         "exclude": {"span_term": {"text": exc}}},
        {"include": {"span_near": {"clauses": [               # extent
            {"span_term": {"text": inc}}], "slop": 0,
            "in_order": True}},
         "exclude": {"span_term": {"text": exc}}},
        {"include": {"span_term": {"text": inc}},
         "exclude": {"span_term": {"text": exc}}, "pre": -1},
        {"include": {"span_term": {"text": inc}},
         "exclude": {"span_term": {"text": exc}}, "dist": 1, "pre": 1},
        {"include": {"span_term": {"text": inc}},
         "exclude": {"span_term": {"text": exc}}, "x": 1},
        {"include": {"span_term": {"text": inc}},
         "exclude": {"span_term": {"other_field": exc}}},     # cross-field
    ):
        with pytest.raises(DslError):
            parse_query({"span_not": bad})


def test_intervals_query(spark, docs, docs_pdf, dsl_index):
    """ES `intervals` (the span family's ES-7+ replacement): the match
    rule's gap arithmetic is EXACTLY the SpanNearQuery window rule
    (gaps = width - k <= max_gaps), so intervals must equal its
    span_near desugar; any_of == bool-should msm=1, all_of (default
    semantics) == bool-must; unordered-unlimited == conjunctive match;
    indexed == naive; out-of-grammar rules fail loud."""
    # ordered max_gaps == span_near ordered slop — identical frames
    iq = {"query": {"intervals": {"text": {"match": {
        "query": "spark agent", "max_gaps": 2, "ordered": True}}}}}
    sq = {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "spark"}},
                    {"span_term": {"text": "agent"}}],
        "slop": 2, "in_order": True}}}
    a = search_dsl(docs, iq, 10).toPandas()
    b = search_dsl(docs, sq, 10).toPandas()
    pd.testing.assert_frame_equal(a, b)
    gi = search_dsl_indexed(spark, dsl_index, iq, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, a, "intervals ordered indexed")
    # unordered bounded == span_near unordered
    iu = {"query": {"intervals": {"text": {"match": {
        "query": "spark agent", "max_gaps": 2}}}}}
    su = {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "spark"}},
                    {"span_term": {"text": "agent"}}],
        "slop": 2, "in_order": False}}}
    pd.testing.assert_frame_equal(search_dsl(docs, iu, 10).toPandas(),
                                  search_dsl(docs, su, 10).toPandas())
    # unordered unlimited distinct terms == conjunctive match
    iun = {"query": {"intervals": {"text": {"match": {
        "query": "spark agent"}}}}}
    mq = {"query": {"match": {"text": {"query": "spark agent",
                                       "operator": "and"}}}}
    pd.testing.assert_frame_equal(search_dsl(docs, iun, 10).toPandas(),
                                  search_dsl(docs, mq, 10).toPandas())
    # ordered unlimited: order still constrains — a doc with only
    # "agent ... spark" (reversed) qualifies unordered but not ordered
    iord = {"query": {"intervals": {"text": {"match": {
        "query": "spark agent", "ordered": True}}}}}
    n_ord = search_dsl(docs, iord, 10000).count()
    n_un = search_dsl(docs, iun, 10000).count()
    assert 0 < n_ord < n_un
    go = search_dsl(docs, iord, 10).toPandas()
    gio = search_dsl_indexed(spark, dsl_index, iord, 10,
                             docs_df=docs).toPandas()
    _assert_rank_identical(gio, go, "intervals ordered-unlimited indexed")
    # any_of / all_of == their bool desugars, nested one level
    comb = {"query": {"intervals": {"text": {"any_of": {"intervals": [
        {"match": {"query": "tool_call"}},
        {"all_of": {"intervals": [
            {"match": {"query": "spark agent", "max_gaps": 2,
                       "ordered": True}},
            {"match": {"query": "token"}}]}},
    ]}}}}}
    hand = {"query": {"bool": {"should": [
        {"match": {"text": {"query": "tool_call", "operator": "and"}}},
        {"bool": {"must": [sq["query"],
                           {"match": {"text": {"query": "token",
                                               "operator": "and"}}}]}}],
        "minimum_should_match": 1}}}
    x = search_dsl(docs, comb, 10).toPandas()
    y = search_dsl(docs, hand, 10).toPandas()
    pd.testing.assert_frame_equal(x, y)
    gx = search_dsl_indexed(spark, dsl_index, comb, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gx, x, "intervals any_of indexed")
    # bool contexts: filter qualifies only, must_not excludes
    anchor = {"match": {"text": "token"}}
    for ctx in ("filter", "must_not"):
        q = {"query": {"bool": {"must": [anchor],
                                ctx: [{"intervals": {"text": {"match": {
                                    "query": "spark agent",
                                    "max_gaps": 2}}}}]}}}
        p = search_dsl(docs, q, 10).toPandas()
        pi = search_dsl_indexed(spark, dsl_index, q, 10,
                                docs_df=docs).toPandas()
        _assert_rank_identical(pi, p, f"intervals {ctx} indexed")
    for bad in (
        {},                                                # no field
        {"text": {"match": {"query": "a"}}, "t2": {}},     # two fields
        {"text": {"match": {}}},                           # no query
        {"text": {"match": {"query": "a", "analyzer": "x"}}},
        {"text": {"match": {"query": "a", "max_gaps": -2}}},
        {"text": {"match": {"query": "a", "ordered": 1}}},
        {"text": {"match": {"query": "!!!"}}},             # no terms
        {"text": {"wildcard": {"pattern": "a*"}}},         # unsupported
        {"text": {"any_of": {"intervals": []}}},
        {"text": {"all_of": {"intervals": [
            {"match": {"query": "a"}}], "ordered": True}}},  # constrained
        {"text": {"all_of": {"intervals": [
            {"match": {"query": "a"}}], "max_gaps": 1}}},
        {"text": {"match": {"query": "a", "filter": {}}}},
    ):
        with pytest.raises(DslError):
            parse_query({"intervals": bad})


def test_intervals_prefix_rule(spark, docs, docs_pdf, dsl_index):
    """intervals `prefix` rule: any term carrying the prefix, resolved
    through the match_phrase_prefix vocabulary expander (term-dict
    order, cap 128) — equal to the lead-less match_phrase_prefix
    desugar; composes inside any_of; indexed == naive; bad bodies fail
    loud."""
    iq = {"query": {"intervals": {"text": {"prefix": {
        "prefix": "spar"}}}}}
    hand = {"query": {"match_phrase_prefix": {"text": {
        "query": "spar", "max_expansions": 128}}}}
    a = search_dsl(docs, iq, 10).toPandas()
    b = search_dsl(docs, hand, 10).toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0
    gi = search_dsl_indexed(spark, dsl_index, iq, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(gi, a, "intervals prefix indexed")
    # inside any_of, unioned with a plain match rule
    any_q = {"query": {"intervals": {"text": {"any_of": {"intervals": [
        {"prefix": {"prefix": "spar"}},
        {"match": {"query": "tool_call"}}]}}}}}
    hand_b = {"query": {"bool": {"should": [
        hand["query"], {"match": {"text": "tool_call"}}],
        "minimum_should_match": 1}}}
    x = search_dsl(docs, any_q, 10).toPandas()
    y = search_dsl(docs, hand_b, 10).toPandas()
    pd.testing.assert_frame_equal(x, y)
    xi = search_dsl_indexed(spark, dsl_index, any_q, 10,
                            docs_df=docs).toPandas()
    _assert_rank_identical(xi, x, "intervals any_of prefix indexed")
    for bad in (
        {"text": {"prefix": {}}},                      # no prefix
        {"text": {"prefix": {"prefix": 3}}},
        {"text": {"prefix": {"prefix": "a b"}}},       # two terms
        {"text": {"prefix": {"prefix": "!!!"}}},       # no terms
        {"text": {"prefix": {"prefix": "a", "analyzer": "x"}}},
        {"text": {"prefix": {"prefix": "a", "use_field": "t2"}}},
    ):
        with pytest.raises(DslError):
            parse_query({"intervals": bad})
