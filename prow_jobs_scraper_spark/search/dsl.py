"""ES bool-query DSL compiler: the reference's query JSON, executed on Spark.

The reference talks to OpenSearch in raw query DSL (reference
src/jobsautoreport/query.py:28-99 — ``bool`` queries pairing a ``match``
with ``range`` filters; src/prowjobsscraper/event.py:171 and
src/elasticsearch_cleanup/consts.py:4 — ``match_all``). This module accepts
those dicts VERBATIM and compiles them onto the engine's Spark plans, so a
reference user can hand over the exact queries they send today.

Grammar (ES subset = the reference's surface + the engine's search shapes)::

    query        := {"query": clause} | clause
    clause       := {"match_all": {}} | match | match_phrase | bool | meta
                 |  dis_max | multi_match
    match        := {"match": {field: text | {"query": text,
                                              "operator": "and"|"or",
                                              "boost": number}}}
                 -- the long form also takes "fuzziness" (int|"AUTO")
                 -- with optional prefix_length/max_expansions:
                 -- desugars at parse time to the bool of per-term
                 -- fuzzy leaves ES's MatchQuery builds internally
                 -- (_desugar_match_fuzzy; boost+fuzziness fails loud)
    match_phrase := {"match_phrase": {field: text | {"query": text,
                                                     "boost": number,
                                                     "slop": int}}}
    span_term    := {"span_term": {field: term | {"value": term}}}
    span_near    := {"span_near": {"clauses": [span_term...],
                                   "slop": int, "in_order": bool,
                                   "boost": number}}
                 -- slop AND in_order are required explicitly; the
                 -- Lucene SpanNearQuery window rule (span_exists_expr),
                 -- not the sloppy-phrase displacement rule; nested
                 -- span algebra (span_or/span_not/...) stays fail-loud
    bool         := {"bool": {"must": clause|[clause...],
                              "filter": clause|[clause...],
                              "should": clause|[clause...],
                              "must_not": clause|[clause...],
                              "minimum_should_match": int}}
    meta         := {"term": {field: value}} | {"terms": {field: [value...]}}
                 --  term/prefix/wildcard/regexp long forms take the ES
                 --  7.10+ {"value": v, "case_insensitive": bool} knob
                 --  (lower() both sides / the (?i) inline flag — the
                 --  predicate string stays in the Spark-SQL∩DuckDB
                 --  shared subset, ASCII-exact)
                 |  {"range": {field: {"gte"|"gt"|"lte"|"lt": value, ...}}}
                 --  range values take ES date math: "<iso>||<math>" or
                 --  "now<math>" with +N/-N of y M w d h H m s and /unit
                 --  rounding (down for gte/lt, up for gt/lte — the ES
                 --  range rule), resolved at compile time to a literal
                 |  {"exists": {"field": field}}
                 |  {"prefix": {field: str | {"value": str}}}
                 |  {"wildcard": {field: pattern}}   -- * and ? only
                 |  {"regexp": {field: pat | {"value": pat}}}
                 --  Lucene-anchored (the WHOLE value must match, the ES
                 --  rule); the accepted pattern language is the
                 --  Java/RE2 shared subset (literals, ., ?, +, *, |,
                 --  {m,n}, [...], (...)). Lucene's optional operators
                 --  (~ & < > # @, ON by default in ES), backslash
                 --  escapes, and (?...) extensions FAIL LOUD — their
                 --  semantics differ across Lucene/Java/RE2, and a
                 --  silently-reinterpreted pattern would diverge from
                 --  the user's ES cluster
                 |  {"ids": {"values": [int...]}}    -- engine doc_ids
    dis_max      := {"dis_max": {"queries": [match|match_phrase ...],
                                 "tie_breaker": float}}
    fuzzy        := {"fuzzy": {field: term | {"value": term,
                                              "fuzziness": int|"AUTO",
                                              "prefix_length": int,
                                              "max_expansions": int}}}
                 -- expansions from the vocabulary (corpus tokens /
                 -- the index terms dim) within Levenshtein distance,
                 -- capped by (distance, term); scored as a dis_max of
                 -- the expansions (tie_breaker 0 — best expansion wins;
                 -- Lucene's blended-freq rewrite deviation documented
                 -- on FuzzyClause)
    multi_match  := {"multi_match": {"query": text, "fields": [field...],
                                     "type": "best_fields"|"most_fields",
                                     "operator": "and"|"or",
                                     "tie_breaker": float}}
    match_phrase_prefix := {"match_phrase_prefix":
                            {field: text | {"query": text,
                                            "max_expansions": int,
                                            "slop": int,
                                            "boost": number}}}
                 -- the analyzed query's LAST term is a prefix; it
                 -- expands against the vocabulary to the first
                 -- max_expansions terms in term order (the ES rule)
                 -- and desugars to a dis_max of exact phrases
                 -- (tie_breaker 0; Lucene's MultiPhrase blended
                 -- scoring is a documented deviation — see
                 -- PhrasePrefixClause)
    more_like_this := {"more_like_this":
                        {"fields": [field], "like": text | [texts],
                         "max_query_terms": int, "min_term_freq": int,
                         "min_doc_freq": int, "max_doc_freq": int,
                         "minimum_should_match": int | "N%"}}
                 -- data-dependent like fuzzy: the like-text's most
                 -- distinctive terms (tf/df-bounded, tf*idf-ranked,
                 -- capped) resolve against the executor's df stats
                 -- and desugar to a bool-should of term matches under
                 -- minimum_should_match (see MltClause)
    boosting     := {"boosting": {"positive": clause,
                                  "negative": clause,
                                  "negative_boost": number}}
                 -- docs qualify by POSITIVE only, scored by positive;
                 -- a doc that ALSO matches negative keeps its score
                 -- multiplied by negative_boost in [0, 1] (demotion
                 -- without exclusion — the ES rule). The negative
                 -- clause evaluates in filter context (its scores
                 -- never surface).
    function_score := {"function_score":
                        {"query": clause,
                         "functions": [{"filter": meta_clause,
                                        "weight": number,
                                        "field_value_factor": {...},
                                        "gauss"|"exp"|"linear": {...}}],
                         "score_mode": "multiply"|"sum"|"avg"|"first"
                                       |"max"|"min",
                         "boost_mode": "multiply"|"replace"|"sum"|"avg"
                                       |"max"|"min",
                         "max_boost": number, "min_score": number,
                         "boost": number}}
                 -- per-doc score functions over METADATA columns:
                 -- weight, field_value_factor (all ten ES modifiers),
                 -- numeric gauss/exp/linear decay; matched functions
                 -- combine per score_mode (none matched -> 1.0), the
                 -- factor combines with the wrapped query's score per
                 -- boost_mode (an unscored wrapped query contributes
                 -- 1.0 — the ES constant-score-leaf rule);
                 -- script_score / random_score fail loud
    constant_score := {"constant_score": {"filter": clause,
                                          "boost": number}}
                 -- every matching doc scores exactly ``boost`` (the ES
                 -- rule); the wrapped clause runs in filter context
                 -- (never BM25-scored). In a parent bool's filter /
                 -- must_not context the boost is irrelevant, exactly
                 -- as in ES.
    query_string := {"query_string": {"query": str,
                                      "default_field": field,
                                      "default_operator": "and"|"or"}}
                 |  {"simple_query_string": {"query": str,
                                             "fields": [field],
                                             "default_operator": ...}}
                 -- AND/OR/NOT/- / +|- / quoted phrases (with ~N slop) /
                 -- parens / field: overrides, desugared onto this very
                 -- grammar (search/query_string.py); fuzzy~, wildcards,
                 -- ranges, boosts stay fail-loud
    pinned       := {"pinned": {"ids": [int...], "organic": clause}}
                 -- the listed docs rank FIRST in list order, organic
                 -- results follow by score; desugars to a bool-should
                 -- of the organic clause plus one huge-boost
                 -- constant_score ids clause per pinned id (see
                 -- :func:`_desugar_pinned`)
    wrapper      := {"wrapper": {"query": "<base64 JSON>"}}
                 -- the base64-encoded clause, decoded and parsed as if
                 -- written inline (the ES client-interop escape hatch)

Semantics (ES-faithful; deviations called out):

- score = Σ must-clause scores + Σ MATCHED should-clause scores. Every
  ``match`` scores BM25 with CORPUS-GLOBAL stats — filter context never
  affects scores (same rule as :func:`..naive.naive_bm25_topk`).
- ``match`` sums the contributions of terms PRESENT in the doc (a tf=0
  term adds 0); ``operator`` gates qualification only: ``"and"`` = every
  term, ``"or"`` (the ES default) = at least one.
- ``match_phrase`` qualifies on adjacency-in-order and scores BM25 over
  the phrase's distinct terms — the engine's documented phrase scoring
  (:func:`..compressed.search_phrase`). ``slop`` relaxes qualification
  to the Lucene sloppy-phrase rule (an assignment of positions to
  phrase slots with displacement range ≤ slop — transposed terms match
  at slop 2, the ES-documented example;
  :func:`..compressed.sloppy_exists_expr`); scoring stays
  slop-independent (ES weights sloppy matches by 1/(distance+1) inside
  phrase freq — a documented deviation, same family as the
  metadata-scores-0 rule). Phrase, span_near, span_first and span_not
  qualify through one predicate function,
  :func:`..compressed._positional_pred`, over a position source: the
  token arrays here, the positions sidecar or a ``docs_df`` re-check in
  the indexed executor (:func:`..compressed._verify_positions`).
- metadata clauses (term/terms/range/exists/match_all) qualify but score
  0 wherever they appear. (ES gives a ``term`` inside ``must`` a small
  constant score; the reference only ever uses them in filter context,
  so the engine pins score-0 — a documented deviation.)
- ``minimum_should_match`` defaults to 1 when the bool has no ``must``
  and no ``filter``, else 0 — the ES rule. Ints (negative = "all but
  N") and percentage strings (``"75%"`` = floor(n·0.75); ``"-25%"`` =
  all but floor(n·0.25)) follow the ES minimum_should_match grammar;
  other combinator forms ("3<90%") stay out-of-grammar.
- ``bool``-in-``bool`` nesting is accepted recursively (any programmatic
  ES client composes bools; the reference's flat shape is the degenerate
  case): a child bool in ``must``/``should`` contributes its score sum
  when it matches, in ``filter``/``must_not`` it qualifies/excludes at
  score 0, and it counts toward the parent's ``minimum_should_match``
  exactly like a leaf clause.
- ``must_not`` on a missing/NULL field MATCHES the doc (the inner clause
  cannot match) — predicates are null-guarded to ES behaviour.
- metadata clauses inside ``should`` count toward
  ``minimum_should_match`` like any other should clause (score 0 under
  the engine's metadata-scores-0 deviation; ES gives them a small
  constant score).
- ``dis_max`` scores ``best + tie_breaker * (sum_of_others)`` over its
  matched children and qualifies when ANY child matches — the ES
  disjunction-max rule. ``multi_match`` desugars: ``best_fields`` (the
  ES default) is a ``dis_max`` of per-field ``match`` clauses;
  ``most_fields`` is a bool-``should`` of them (``minimum_should_match``
  1) — exactly the equivalences the ES docs state. In filter /
  must_not context the two types coincide (qualification is
  any-field-matches; scores are irrelevant), so both desugar to the
  bool-``should`` form there.

Execution: :func:`search_dsl` compiles the WHOLE bool query into ONE
map-side scoring pass — a single stats agg (corpus size, per-field avgdl,
every clause term's df in one scan), then per-clause tf/score/hit row
expressions folded into a single filter + TakeOrderedAndProject. No
per-clause scans, no joins, one exchange (the top-k merge) — at 10^12
turns the scoring stage stays embarrassingly parallel regardless of how
many clauses the bool carries.

:func:`search_dsl_indexed` answers the same query from the compressed
index: per-clause score-all frames (salt-cogrouped block decode), combined
with doc_id joins, metadata predicates resolved against ``doc_stats``.
Rank-identity with the naive pass is pytest-gated (tests/test_dsl.py).

:func:`dsl_aggregate` adds the ES ``aggs`` block (terms /
date_histogram buckets with metric sub-aggs, or a bare metric) over the
query's qualifying set — the aggregations the reference computes
client-side from query results (reference src/jobsautoreport/report.py)
pushed down into one grouped Spark aggregation.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import re as _re
from collections.abc import Callable
from dataclasses import dataclass, field as _field
from functools import cached_property, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prow_jobs_scraper_spark.functions.tokenize import (
    tokenize_column,
    tokenize_text,
)
from prow_jobs_scraper_spark.functions.xxh64 import term_id_py
from prow_jobs_scraper_spark.index.build import (
    BM25Params,
    with_doc_ids,
)
from prow_jobs_scraper_spark.search.compressed import (
    _K_ALL,
    _Positional,
    _ROWS,
    _Plan,
    _TokenPositions,
    _df_stats_multi,
    _group_frame,
    _idf,
    _load_segments,
    _match_frame,
    _per_query_topk,
    _plan_match,
    _positional_pred,
    _verify_positions,
    _wand_bool_topk,
)


# --------------------------------------------------------------------------
# parsed form
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class TextClause:
    """One scoring/matching full-text clause (match or match_phrase).
    ``boost`` multiplies the clause's BM25 score (the ES per-clause
    boost); qualification is boost-independent."""

    field: str
    text: str
    operator: str = "or"  # ES `match` default
    phrase: bool = False
    boost: float = 1.0
    slop: int = 0  # ES match_phrase slop (qualification only)
    # span_near desugar (:func:`_parse_span`): None = plain text clause,
    # else True/False = the span_near in_order flag — qualification uses
    # the Lucene SpanNearQuery window rule instead of the sloppy-phrase
    # displacement rule; only meaningful with phrase=True
    span_in_order: bool | None = None
    # span_first desugar (:func:`_parse_span`): the Lucene
    # SpanFirstQuery bound — the wrapped single term must occur at a
    # 0-based position p with p + 1 <= span_first_end (span end <=
    # end). Qualification-only, like slop; only meaningful on a
    # single-term clause with phrase=False
    span_first_end: int | None = None
    # span_not desugar (:func:`_parse_span`): the Lucene SpanNotQuery
    # rule for single-position spans — (exclude_term, pre, post); an
    # include occurrence at position p survives unless the exclude
    # term occurs at any q with p - pre <= q <= p + post, and the doc
    # matches when at least one occurrence survives.
    # Qualification-only; only meaningful on a single-term clause with
    # phrase=False (include/exclude are span_terms on the same field)
    span_not: tuple[str, int, int] | None = None

    def positional(self) -> _Positional | None:
        """The clause's positional constraint (phrase, span_near,
        span_first or span_not), or None for a plain match."""
        if not (self.phrase or self.span_first_end is not None
                or self.span_not is not None):
            return None
        return _Positional(tokenize_text(self.text), self.slop,
                           self.span_in_order, self.span_first_end,
                           self.span_not)


@dataclass(frozen=True)
class FuzzyClause:
    """ES ``fuzzy`` leaf (term-level): matches terms within Levenshtein
    ``fuzziness`` of ``value``. Resolution is DATA-dependent (the
    expansion set comes from the corpus vocabulary / the index terms
    dim), so parse keeps the clause symbolic and each executor resolves
    it into a :class:`DisMax` over the expansions (tie_breaker 0 — the
    best-matching expansion scores; Lucene's top_terms_blended_freqs
    rewrite blends doc freqs instead, a documented deviation).
    Expansions cap at ``max_expansions`` by (edit distance, term) —
    the ES default 50."""

    field: str
    value: str
    fuzziness: int
    prefix_length: int = 0
    max_expansions: int = 50


@dataclass(frozen=True)
class PhrasePrefixClause:
    """ES ``match_phrase_prefix``: the analyzed query's LAST term is a
    PREFIX. Resolution is data-dependent exactly like
    :class:`FuzzyClause` — the prefix expands against the vocabulary
    (corpus tokens / the index terms dim) to the first
    ``max_expansions`` terms in term order (the ES/Lucene rule), and
    the clause desugars to a dis_max of exact ``match_phrase`` clauses
    over the expansions (tie_breaker 0 — the best expansion wins;
    Lucene's MultiPhrase blended scoring is a documented deviation,
    same family as the fuzzy rewrite). A single-term query degenerates
    to a dis_max of plain term matches (a SCORED prefix — what the
    metadata ``prefix`` clause, score-0, cannot express)."""

    field: str
    lead: tuple  # tokens before the prefix, analyzer output
    prefix: str
    max_expansions: int = 50
    slop: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class MltClause:
    """ES ``more_like_this``: select the most distinctive terms of the
    ``like`` text and search with them. Resolution is data-dependent
    like :class:`FuzzyClause` — term selection needs per-term document
    frequencies — so the executors resolve it against their own stats
    source (a one-pass corpus agg naively; the terms dim + postings
    df cache indexed). Selection (the Lucene MoreLikeThis rule):
    analyzed like-tokens with ``tf_in_like >= min_term_freq`` and
    ``min_doc_freq <= df <= max_doc_freq``, ranked by ``tf * idf``
    desc (idf = the engine's BM25 idf, ``ln(1+(N-df+.5)/(df+.5))`` — a
    documented deviation from Lucene MLT's ``1+log(N/(df+1))``; both
    are monotone in df so selection differs only at extreme ties),
    capped at ``max_query_terms`` with (score desc, term asc)
    determinism. Desugars to a bool-should of plain term matches under
    ``minimum_should_match`` (ES default "30%")."""

    field: str
    like_tokens: tuple
    max_query_terms: int = 25
    min_term_freq: int = 2
    min_doc_freq: int = 5
    max_doc_freq: int | None = None
    msm: int | str = "30%"


@dataclass(frozen=True)
class DisMax:
    """ES ``dis_max``: best-matching child wins, others contribute via
    ``tie_breaker`` (score = best + tie_breaker * sum(other matched
    children)); a doc qualifies when ANY child matches. Children are
    restricted to match/match_phrase — the shapes ``multi_match``
    type=best_fields (the ES default) desugars into."""

    children: tuple  # tuple[TextClause, ...]
    tie_breaker: float = 0.0


@dataclass(frozen=True)
class FScoreFn:
    """One parsed ``function_score`` function: an optional METADATA
    filter (dialect-shared SQL predicate, like the bool grammar's
    *_sql lists), a ``weight`` multiplier, and a value expression
    (``field_value_factor`` / ``gauss`` / ``exp`` / ``linear`` decay,
    or the constant 1.0 for a weight-only function). ``value_sql``
    stays inside the Java/DuckDB shared SQL subset so the naive
    executor, the indexed executor (over doc_stats) and any DuckDB
    oracle twin can all evaluate it verbatim."""

    filter_sql: str | None  # None -> the function applies to every doc
    weight: float
    value_sql: str
    fields: tuple  # doc/doc_stats columns the function reads
    # compiled painless score script (script_score query): a closure
    # (field_col, qscore) -> Column. Set -> value_sql is unused; the
    # script gets the wrapped query's score, which no SQL string could
    # carry (value_sql is evaluated before the combine step sees it)
    script: "object | None" = None
    # (source, params-items) the script compiled from — kept so an
    # INDEPENDENT oracle (the pytest pandas/numpy evaluator) can
    # re-evaluate the same painless text without going through the
    # engine's compiler, mirroring how value_sql is replayed in DuckDB
    script_src: "tuple | None" = None


@dataclass
class FunctionScore:
    """ES ``function_score``: wrapped query -> per-doc factor from the
    matched functions (``score_mode`` combine, ``max_boost`` cap) ->
    final score via ``boost_mode`` against the query score. A wrapped
    query that produces no scores (match_all / pure metadata / filter
    context) contributes query score 1.0 — the ES constant-score-leaf
    rule. ``min_score`` drops docs below the FINAL score."""

    wrapped: "QuerySpec"
    funcs: list  # list[FScoreFn], declaration order (score_mode=first)
    score_mode: str  # multiply|sum|avg|first|max|min
    boost_mode: str  # multiply|replace|sum|avg|max|min
    max_boost: float | None
    min_score: float | None
    boost: float


@dataclass(frozen=True)
class TermsSetClause:
    """ES ``terms_set``: match docs containing at least a PER-DOC
    number of the listed terms (Lucene CoveringQuery). ``children``
    hold one single-term :class:`TextClause` per distinct term — they
    ride the tree walkers so the shared stats agg covers them; the
    minimum comes from ``msm_field`` (a numeric doc column) or
    ``msm_script`` (the painless subset, ``params.num_terms``
    injected), truncated to a long like Lucene's LongValuesSource and
    clamped to >= 1 (the CoveringScorer rule). A doc whose minimum
    resolves NULL never matches (Lucene: advanceExact false). Score =
    sum of the MATCHED terms' BM25 (the CoveringQuery sum)."""

    field: str
    children: tuple  # single-term TextClauses, one per distinct term
    msm_field: str | None
    msm_script: "object | None"  # compiled (field_col,) -> Column
    msm_src: "tuple | None"  # (source, params items) for oracles
    script_fields: tuple
    boost: float


@dataclass
class QuerySpec:
    """Normalized bool query: text clauses by context + SQL predicates +
    nested child bools by context (ES composes bools recursively; any
    programmatic client emits them — the reference's flat shape,
    query.py:28-45, is the degenerate case)."""

    must: list[TextClause] = _field(default_factory=list)
    should: list[TextClause] = _field(default_factory=list)
    must_not: list[TextClause] = _field(default_factory=list)
    filter_text: list[TextClause] = _field(default_factory=list)
    filter_sql: list[str] = _field(default_factory=list)
    must_not_sql: list[str] = _field(default_factory=list)
    should_sql: list[str] = _field(default_factory=list)
    # top-level doc_stats columns the *_sql predicates read, in clause
    # order (captured at parse time so the indexed executors can
    # validate them against the doc_stats schema and fail loud)
    sql_fields: set = _field(default_factory=set)
    must_dismax: list[DisMax] = _field(default_factory=list)
    should_dismax: list[DisMax] = _field(default_factory=list)
    # unresolved fuzzy leaves as (context, clause); executors resolve
    # them against their vocabulary via _resolve_fuzzy before compiling
    fuzzy: list = _field(default_factory=list)
    # unresolved more_like_this leaves as (context, MltClause);
    # executors resolve them against their df stats via _resolve_mlt
    mlt: list = _field(default_factory=list)
    # terms_set leaves as (context, TermsSetClause) — compiled per
    # executor (per-doc minimum_should_match can't ride the bool msm)
    terms_set: list = _field(default_factory=list)
    must_bool: list["QuerySpec"] = _field(default_factory=list)
    filter_bool: list["QuerySpec"] = _field(default_factory=list)
    should_bool: list["QuerySpec"] = _field(default_factory=list)
    must_not_bool: list["QuerySpec"] = _field(default_factory=list)
    msm: int | str | None = None  # None -> ES default rule
    match_all: bool = False
    # ES constant_score: when set, the spec's qualifying docs ALL score
    # exactly this value (the wrapped clause sits in filter context)
    const_boost: float | None = None
    # ES boosting query: (positive_spec, negative_spec, negative_boost)
    # — docs qualify by POSITIVE only; a doc that ALSO matches negative
    # keeps its positive score multiplied by negative_boost (demotion
    # without exclusion, the thing must_not cannot express)
    boosting: tuple | None = None
    # ES function_score: wrapped query + per-doc score functions
    # (see :class:`FunctionScore`)
    fscore: "FunctionScore | None" = None

    def child_specs(self) -> list["QuerySpec"]:
        """Every nested QuerySpec one level down — the four bool
        context lists plus the boosting positive/negative pair. All
        tree traversals (fuzzy resolution, field collection, text
        clause collection) recurse through THIS, so a new child-spec
        container only needs wiring here."""
        out = (self.must_bool + self.filter_bool + self.should_bool
               + self.must_not_bool)
        if self.boosting is not None:
            out = out + [self.boosting[0], self.boosting[1]]
        if self.fscore is not None:
            out = out + [self.fscore.wrapped]
        return out

    def minimum_should_match(self) -> int:
        n_should = (len(self.should) + len(self.should_bool)
                    + len(self.should_sql) + len(self.should_dismax)
                    + sum(1 for ctx, _ in self.terms_set
                          if ctx == "should"))
        if self.msm is not None:
            if isinstance(self.msm, str):
                # ES percentage form: "75%" -> floor(n*0.75); a negative
                # percentage "-25%" means "all but floor(n*0.25)"
                pct = int(self.msm.rstrip("%"))
                if pct >= 0:
                    return (n_should * pct) // 100
                return n_should - (n_should * (-pct)) // 100
            if self.msm < 0:
                # ES negative int: "all but |msm|" should clauses
                return max(0, n_should + self.msm)
            return self.msm
        has_anchor = bool(self.must or self.must_bool or self.must_dismax
                          or self.filter_text or self.filter_bool
                          or self.filter_sql or self.match_all
                          or any(ctx in ("must", "filter")
                                 for ctx, _ in self.fuzzy)
                          or any(ctx in ("must", "filter")
                                 for ctx, _ in self.mlt)
                          or any(ctx in ("must", "filter")
                                 for ctx, _ in self.terms_set))
        return 0 if has_anchor else (1 if n_should else 0)

    def has_fuzzy(self) -> bool:
        return bool(self.fuzzy) or any(
            ch.has_fuzzy() for ch in self.child_specs())

    def has_mlt(self) -> bool:
        return bool(self.mlt) or any(
            ch.has_mlt() for ch in self.child_specs())

    def mlt_fields(self) -> set:
        out = {mc.field for _, mc in self.mlt}
        for ch in self.child_specs():
            out |= ch.mlt_fields()
        return out

    def fuzzy_fields(self) -> set:
        out = {fc.field for _, fc in self.fuzzy}
        for ch in self.child_specs():
            out |= ch.fuzzy_fields()
        return out

    def all_sql_fields(self) -> set:
        """Every doc_stats column any *_sql predicate in the TREE reads
        (self + nested bools) — the indexed executors validate these
        against the doc_stats schema."""
        out = set(self.sql_fields)
        for child in self.child_specs():
            out |= child.all_sql_fields()
        return out

    def text_clauses(self) -> list[TextClause]:
        """Every text clause in the tree (self + nested bools +
        dis_max children + terms_set per-term children)."""
        out = (self.must + self.should + self.filter_text + self.must_not)
        for dm in self.must_dismax + self.should_dismax:
            out.extend(dm.children)
        for _, ts in self.terms_set:
            out.extend(ts.children)
        for child in self.child_specs():
            out.extend(child.text_clauses())
        return out


class DslError(ValueError):
    """Malformed or out-of-grammar ES query DSL."""


# --------------------------------------------------------------------------
# parsing
# --------------------------------------------------------------------------

def _sql_lit(v) -> str:
    """Render a JSON scalar as a SQL literal (DuckDB- and Spark-readable)."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        esc = v.replace("'", "''")
        return f"'{esc}'"
    raise DslError(f"unsupported literal {v!r}")


def _ident(field: str) -> str:
    """Field name -> SQL identifier (dotted struct access passes through)."""
    if not isinstance(field, str) or not field \
            or any(ch in field for ch in " ;'\"^"):
        raise DslError(f"bad field name {field!r}")
    return field


_RANGE_OPS = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}

# ---- ES date math in range values (round 5) --------------------------
# `"gte": "2025-06-01||+1w/d"` and `"lt": "now-6h"` resolve at
# query-COMPILE time into a plain TIMESTAMP literal, so the predicate
# string stays engine-portable (Spark SQL == DuckDB) and pushdown-able.
# ES resolves `now` at shard-query time — compile time is the same
# moment for an immediately-executed DataFrame plan (documented).
# Tests freeze `now` by monkeypatching _NOW_FN.

_NOW_FN = _dt.datetime.utcnow  # engine session TZ is pinned UTC

_DATE_MATH_OP = _re.compile(r"([+-])(\d+)([yMwdhHms])|/([yMwdhHms])")
_UNIT_DELTAS = {"w": _dt.timedelta(weeks=1), "d": _dt.timedelta(days=1),
                "h": _dt.timedelta(hours=1), "H": _dt.timedelta(hours=1),
                "m": _dt.timedelta(minutes=1),
                "s": _dt.timedelta(seconds=1)}


def _add_months(t: _dt.datetime, n: int) -> _dt.datetime:
    import calendar  # noqa: PLC0415
    y, m = divmod(t.year * 12 + (t.month - 1) + n, 12)
    day = min(t.day, calendar.monthrange(y, m + 1)[1])  # ES clamps
    return t.replace(year=y, month=m + 1, day=day)


def _trunc_unit(t: _dt.datetime, u: str) -> _dt.datetime:
    if u == "y":
        return t.replace(month=1, day=1, hour=0, minute=0, second=0,
                         microsecond=0)
    if u == "M":
        return t.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    if u == "w":  # ES date-math weeks start Monday
        d = t.replace(hour=0, minute=0, second=0, microsecond=0)
        return d - _dt.timedelta(days=d.weekday())
    if u == "d":
        return t.replace(hour=0, minute=0, second=0, microsecond=0)
    if u in ("h", "H"):
        return t.replace(minute=0, second=0, microsecond=0)
    if u == "m":
        return t.replace(second=0, microsecond=0)
    return t.replace(microsecond=0)


def _bump_unit(t: _dt.datetime, u: str, n: int) -> _dt.datetime:
    if u == "y":
        return _add_months(t, 12 * n)
    if u == "M":
        return _add_months(t, n)
    return t + n * _UNIT_DELTAS[u]


def _resolve_date_math(v, range_op: str):
    """``"<anchor>||<math>"`` / ``"now<math>"`` -> datetime literal, or
    the value unchanged when it isn't date math. ES rounding rule for
    ``/unit`` in range context: ``gte``/``lt`` round DOWN (start of the
    unit), ``gt``/``lte`` round UP (end of the unit — ES's last
    millisecond; the engine's timestamps are second-resolution, so end
    = start of the next unit minus 1 s, a documented deviation).
    Malformed math fails loud."""
    if not isinstance(v, str):
        return v
    if v.startswith("now"):
        anchor, expr = _NOW_FN().replace(microsecond=0), v[3:]
    elif "||" in v:
        a, expr = v.split("||", 1)
        try:
            anchor = _dt.datetime.fromisoformat(a)
        except ValueError:
            raise DslError(f"bad date-math anchor {a!r}") from None
    else:
        return v  # plain value — compare as-is
    pos, t = 0, anchor
    while pos < len(expr):
        m = _DATE_MATH_OP.match(expr, pos)
        if not m:
            raise DslError(f"bad date math {v!r} at {expr[pos:]!r}")
        if m.group(4):  # /unit — direction depends on the comparison
            u = m.group(4)
            t = _trunc_unit(t, u)
            if range_op in ("gt", "lte"):
                t = _bump_unit(t, u, 1) - _dt.timedelta(seconds=1)
        else:
            sign = 1 if m.group(1) == "+" else -1
            t = _bump_unit(t, m.group(3), sign * int(m.group(2)))
        pos = m.end()
    return t


def _validate_regex_subset(pat: str) -> None:
    """Gate a ``regexp`` clause pattern to the Lucene/Java/RE2 SHARED
    subset — the predicate string executes verbatim in Spark SQL (Java
    regex) and the DuckDB oracle (RE2), and Lucene's own syntax is a
    third dialect, so anything the three disagree on fails loud:

    - ``\\``: Lucene escapes ANY char; Java gives ``\\d``/``\\w``/...
      class meanings RE2 mostly shares but Lucene lacks
    - ``~ & < > # @``: Lucene optional operators (complement,
      intersection, interval, empty, any-string) — ON by default in ES,
      plain literals in Java/RE2
    - ``^ $`` outside a character class: anchors in Java/RE2, but
      Lucene regexps are implicitly anchored and give them no meaning
    - ``(?``: Java/RE2 group extensions (lookaround, flags, named
      groups) — not Lucene syntax, and lookaround isn't RE2 either
    """
    in_class = False
    prev = ""
    for ch in pat:
        if ch == "\\":
            raise DslError(
                "regexp backslash escapes are not supported (Lucene, "
                "Java and RE2 disagree on their meaning)")
        if in_class:
            if ch == "]":
                in_class = False
        elif ch == "[":
            in_class = True
        elif ch in "~&<>#@":
            raise DslError(
                f"regexp operator {ch!r} (a Lucene optional operator, "
                f"on by default in ES) is not supported")
        elif ch in "^$":
            raise DslError(
                f"regexp {ch!r} is not supported (Lucene regexps are "
                f"implicitly anchored; {ch!r} would anchor in Java/RE2 "
                f"but not in ES)")
        elif ch == "?" and prev == "(":
            raise DslError(
                "regexp (?... ) group extensions are not supported "
                "(not Lucene syntax)")
        prev = ch
    if in_class:
        raise DslError("regexp has an unterminated character class")
    try:
        _re.compile("^(?:" + pat + ")$")
    except _re.error as e:
        raise DslError(f"invalid regexp pattern {pat!r}: {e}") from None


def _meta_field(fld: str) -> str:
    """Top-level column a meta clause reads (dotted struct access
    resolves against its root column)."""
    return _ident(fld).split(".")[0]


def _meta_value_ci(kind: str, v) -> tuple:
    """Unwrap a term/prefix/wildcard/regexp value's ES long form ->
    (value, case_insensitive flag). The ES 7.10+ ``case_insensitive``
    option is the one long-form knob these clauses support; anything
    else (``rewrite``, ``flags``, ``boost`` on a filter-context
    clause, ...) fails loud."""
    if not isinstance(v, dict):
        return v, False
    unknown = set(v) - {"value", "case_insensitive"}
    if unknown:
        raise DslError(f"unsupported {kind} options {sorted(unknown)}")
    if "value" not in v:
        raise DslError(f"{kind} long form needs a value, got {v!r}")
    ci = v.get("case_insensitive", False)
    if not isinstance(ci, bool):
        raise DslError(
            f"{kind} case_insensitive must be a boolean, got {ci!r}")
    return v["value"], ci


def _compile_meta(kind: str, body: dict) -> tuple[str, str]:
    """term/terms/range/exists -> (SQL predicate string, the top-level
    column it reads — the indexed executors validate it against the
    doc_stats schema so a typo'd field raises DslError instead of an
    opaque AnalysisException)."""
    if kind == "term":
        (fld, v), = body.items()
        v, ci = _meta_value_ci(kind, v)
        if ci:
            # ES case_insensitive (7.10+): lower() BOTH sides INSIDE the
            # predicate string so each engine (Spark SQL and the DuckDB
            # oracle replay) applies its own, self-consistent casefold —
            # exact for ASCII; locale-special casing (Turkish İ, ß) is
            # outside the engine's analyzer anyway
            if not isinstance(v, str):
                raise DslError(
                    f"case_insensitive term needs a string value, "
                    f"got {v!r}")
            return (f"lower({_ident(fld)}) = lower({_sql_lit(v)})",
                    _meta_field(fld))
        return f"{_ident(fld)} = {_sql_lit(v)}", _meta_field(fld)
    if kind == "terms":
        (fld, vals), = body.items()
        if not isinstance(vals, (list, tuple)) or not vals:
            raise DslError("terms clause needs a non-empty value list")
        inner = ", ".join(_sql_lit(v) for v in vals)
        return f"{_ident(fld)} IN ({inner})", _meta_field(fld)
    if kind == "range":
        (fld, ops), = body.items()
        parts = []
        for op, v in ops.items():
            if op in ("format", "time_zone"):  # ES formatting hints
                continue
            if op not in _RANGE_OPS:
                raise DslError(f"range operator {op!r} not supported")
            v = _resolve_date_math(v, op)
            parts.append(f"{_ident(fld)} {_RANGE_OPS[op]} {_sql_lit(v)}")
        if not parts:
            raise DslError("range clause has no bounds")
        return "(" + " AND ".join(parts) + ")", _meta_field(fld)
    if kind == "exists":
        return (f"{_ident(body['field'])} IS NOT NULL",
                _meta_field(body["field"]))
    if kind == "prefix":
        (fld, v), = body.items()
        v, ci = _meta_value_ci(kind, v)
        if not isinstance(v, str) or not v:
            raise DslError("prefix needs a non-empty string value")
        # left(f, n) = v instead of LIKE: the same predicate string must
        # parse identically in Spark SQL and DuckDB, and LIKE-escape
        # rules differ between the two (Spark escapes backslash in both
        # the literal and the pattern; DuckDB in neither)
        if ci:  # same both-sides-lower rule as term
            return (f"left(lower({_ident(fld)}), {len(v)}) "
                    f"= lower({_sql_lit(v)})", _meta_field(fld))
        return (f"left({_ident(fld)}, {len(v)}) = {_sql_lit(v)}",
                _meta_field(fld))
    if kind == "wildcard":
        (fld, v), = body.items()
        v, ci = _meta_value_ci(kind, v)
        if not isinstance(v, str) or not v:
            raise DslError("wildcard needs a non-empty string value")
        if any(ch in v for ch in ("%", "_", "\\")):
            # would need LIKE escaping, which Spark and DuckDB parse
            # differently — out-of-grammar, documented
            raise DslError(
                "wildcard values containing % _ or \\ are not supported")
        pat = v.replace("*", "%").replace("?", "_")
        if ci:  # same both-sides-lower rule as term
            return (f"lower({_ident(fld)}) LIKE lower({_sql_lit(pat)})",
                    _meta_field(fld))
        return f"{_ident(fld)} LIKE {_sql_lit(pat)}", _meta_field(fld)
    if kind == "regexp":
        (fld, v), = body.items()
        # flags/rewrite/max_determinized_states would change MATCH
        # SEMANTICS if ignored -> out-of-grammar, fail loud;
        # case_insensitive maps to the (?i) inline flag, which Java
        # regex and RE2 (DuckDB) define identically
        v, ci = _meta_value_ci(kind, v)
        if not isinstance(v, str) or not v:
            raise DslError("regexp needs a non-empty string value")
        _validate_regex_subset(v)
        # Lucene regexps are ANCHORED (the whole value must match);
        # Java/RE2 are not -> wrap. regexp_extract(col, pat, 0) = col
        # is the anchored-match idiom that parses identically in Spark
        # SQL and DuckDB (neither shares a boolean regex function name
        # with the other).
        pat = ("(?i)" if ci else "") + "^(?:" + v + ")$"
        return (f"regexp_extract({_ident(fld)}, {_sql_lit(pat)}, 0) "
                f"= {_ident(fld)}", _meta_field(fld))
    if kind == "ids":
        vals = body.get("values")
        if not isinstance(vals, (list, tuple)) or not vals \
                or not all(isinstance(x, int) and not isinstance(x, bool)
                           for x in vals):
            raise DslError("ids needs a non-empty integer values list")
        inner = ", ".join(str(int(x)) for x in vals)
        return f"doc_id IN ({inner})", "doc_id"
    raise DslError(f"unsupported clause {kind!r}")


def _parse_text(kind: str, body: dict) -> TextClause:
    (fld, spec), = body.items()
    boost = 1.0
    slop = 0
    if isinstance(spec, str):
        text, operator = spec, "or"
    elif isinstance(spec, dict):
        # unknown options must FAIL, not silently drop — an ignored
        # "fuzziness"/"minimum_should_match"/"analyzer" would return
        # silently-different results than the user's ES cluster
        allowed = {"query", "operator", "boost"}
        if kind == "match_phrase":
            allowed = {"query", "boost", "slop"}  # ES: phrase takes no
            # operator; slop is phrase-only
        unknown = set(spec) - allowed
        if unknown:
            raise DslError(
                f"unsupported {kind} options {sorted(unknown)}")
        if "query" not in spec or not isinstance(spec["query"], str):
            raise DslError(f"{kind} needs query text, got {spec!r}")
        text = spec["query"]
        operator = spec.get("operator", "or")
        boost = spec.get("boost", 1.0)
        if isinstance(boost, bool) or not isinstance(boost, (int, float)) \
                or not boost > 0:
            raise DslError(f"boost must be a positive number, got {boost!r}")
        slop = spec.get("slop", 0)
        if isinstance(slop, bool) or not isinstance(slop, int) or slop < 0:
            raise DslError(
                f"slop must be a non-negative int, got {slop!r}")
    else:
        raise DslError(f"bad {kind} body {spec!r}")
    if operator not in ("and", "or"):
        raise DslError(f"match operator {operator!r} not supported")
    return TextClause(field=fld, text=text, operator=operator,
                      phrase=(kind == "match_phrase"), boost=float(boost),
                      slop=int(slop))


def _span_term_of(clause: dict, expect_field: str | None):
    """One ``{"span_term": {field: term | {"value": term,
    "boost"?}}}`` -> (field, term). The value is a TERM (the analyzed
    token itself, Lucene semantics): it must analyze to exactly itself,
    single-token — multi-token or normalizing input fails loud instead
    of silently matching a different term than the user's cluster.
    Per-clause boost inside span_near is rejected (Lucene folds inner
    boosts into span weights this engine does not model)."""
    if not isinstance(clause, dict) or len(clause) != 1 \
            or "span_term" not in clause:
        raise DslError(
            f"span_near clauses must be span_term objects, got "
            f"{clause!r}")
    body = clause["span_term"]
    if not isinstance(body, dict) or len(body) != 1:
        raise DslError(f"bad span_term body {body!r}")
    (fld, spec), = body.items()
    if isinstance(spec, dict):
        if set(spec) - {"value"}:
            raise DslError(
                f"unsupported span_term options "
                f"{sorted(set(spec) - {'value'})}")
        spec = spec.get("value")
    if not isinstance(spec, str):
        raise DslError(f"span_term value must be a string, got {spec!r}")
    toks = tokenize_text(spec)
    if toks != [spec]:
        raise DslError(
            f"span_term takes a single analyzed TERM; {spec!r} "
            f"analyzes to {toks!r}")
    if expect_field is not None and fld != expect_field:
        raise DslError(
            f"span_near clauses must target one field, got {fld!r} "
            f"and {expect_field!r}")
    return fld, spec


def _parse_span(kind: str, body) -> TextClause:
    """ES ``span_term`` / ``span_near`` / ``span_first`` ->
    :class:`TextClause` desugar.

    - ``span_term`` degenerates to a single-term conjunctive match
      (identical qualification and scoring).
    - ``span_near`` (``span_term`` clauses only — nested span algebra
      beyond span_or/span_first stays out of grammar) rides the phrase
      machinery: conjunctive candidates + a positions predicate, with
      the Lucene SpanNearQuery window rule
      (``..compressed.span_exists_expr``) instead of the phrase
      displacement rule. ``slop`` is required (ES) and ``in_order`` is
      required EXPLICITLY — ES documentation states the default
      inconsistently across versions, and a silent wrong default is
      the divergence failure mode this grammar refuses. Scoring is the
      engine's phrase rule (per-term BM25 sum, qualification
      span-dependent only — the documented deviation family; ES weighs
      spans by 1/(1+matchLength)).
    - ``span_first`` (``span_term`` match only — a span_near child
      needs span END positions the existence predicates don't expose)
      is the Lucene SpanFirstQuery rule: the term's span must END at
      or before ``end``, i.e. 0-based position p with p + 1 <= end.
      Qualification-only, like slop; scoring is the term's BM25."""
    if kind == "span_term":
        fld, term = _span_term_of({"span_term": body}, None)
        return TextClause(field=fld, text=term, operator="and")
    if kind == "span_first":
        if not isinstance(body, dict):
            raise DslError(f"bad span_first body {body!r}")
        unknown = set(body) - {"match", "end", "boost"}
        if unknown:
            raise DslError(
                f"unsupported span_first options {sorted(unknown)}")
        match = body.get("match")
        if not (isinstance(match, dict) and len(match) == 1
                and "span_term" in match):
            raise DslError(
                "span_first supports a span_term match only (span_near "
                f"children need span end positions), got {match!r}")
        end = body.get("end")
        if isinstance(end, bool) or not isinstance(end, int) or end < 0:
            raise DslError(
                f"span_first needs a non-negative integer end, got {end!r}")
        boost = body.get("boost", 1.0)
        if isinstance(boost, bool) or not isinstance(boost, (int, float)) \
                or not boost > 0:
            raise DslError(f"boost must be a positive number, got {boost!r}")
        fld, term = _span_term_of(match, None)
        return TextClause(field=fld, text=term, operator="and",
                          boost=float(boost), span_first_end=end)
    if kind == "span_not":
        # Lucene SpanNotQuery, single-position spans only: include and
        # exclude must both be span_terms (a span_near on either side
        # needs span EXTENTS the existence predicates don't expose —
        # the same boundary as span_first). `dist` is ES shorthand for
        # pre = post = dist; defaults 0/0 (overlap-only exclusion).
        # Same-term include/exclude can never match (a position always
        # overlaps itself) — the natural consequence of the rule, kept.
        if not isinstance(body, dict):
            raise DslError(f"bad span_not body {body!r}")
        unknown = set(body) - {"include", "exclude", "pre", "post",
                               "dist", "boost"}
        if unknown:
            raise DslError(
                f"unsupported span_not options {sorted(unknown)}")
        if "dist" in body and ("pre" in body or "post" in body):
            raise DslError(
                "span_not takes dist OR pre/post, not both (ES: dist "
                "sets both)")
        inc = body.get("include")
        exc = body.get("exclude")
        for name, cl in (("include", inc), ("exclude", exc)):
            if not (isinstance(cl, dict) and len(cl) == 1
                    and "span_term" in cl):
                raise DslError(
                    f"span_not {name} supports a span_term only "
                    f"(span extents are out of grammar), got {cl!r}")
        dist = body.get("dist", 0)
        pre = body.get("pre", dist)
        post = body.get("post", dist)
        for name, v in (("pre", pre), ("post", post), ("dist", dist)):
            if isinstance(v, bool) or not isinstance(v, int) or v < 0:
                raise DslError(
                    f"span_not {name} must be a non-negative integer, "
                    f"got {v!r}")
        boost = body.get("boost", 1.0)
        if isinstance(boost, bool) or not isinstance(boost, (int, float)) \
                or not boost > 0:
            raise DslError(f"boost must be a positive number, got {boost!r}")
        fld, inc_term = _span_term_of(inc, None)
        _, exc_term = _span_term_of(exc, fld)  # same-field rule (ES)
        return TextClause(field=fld, text=inc_term, operator="and",
                          boost=float(boost),
                          span_not=(exc_term, int(pre), int(post)))
    if not isinstance(body, dict):
        raise DslError(f"bad span_near body {body!r}")
    unknown = set(body) - {"clauses", "slop", "in_order", "boost"}
    if unknown:
        raise DslError(f"unsupported span_near options {sorted(unknown)}")
    clauses = body.get("clauses")
    if not isinstance(clauses, list) or not clauses:
        raise DslError("span_near needs a non-empty clauses list")
    fld, terms = None, []
    for cl in clauses:
        fld, t = _span_term_of(cl, fld)
        terms.append(t)
    slop = body.get("slop")
    if isinstance(slop, bool) or not isinstance(slop, int) or slop < 0:
        raise DslError(
            f"span_near needs a non-negative integer slop, got {slop!r}")
    in_order = body.get("in_order")
    if not isinstance(in_order, bool):
        raise DslError(
            "span_near needs an explicit boolean in_order (ES versions "
            "document the default inconsistently — pass it explicitly)")
    boost = body.get("boost", 1.0)
    if isinstance(boost, bool) or not isinstance(boost, (int, float)) \
            or not boost > 0:
        raise DslError(f"boost must be a positive number, got {boost!r}")
    if len(terms) == 1:
        return TextClause(field=fld, text=terms[0], operator="and",
                          boost=float(boost))
    return TextClause(field=fld, text=" ".join(terms), operator="and",
                      phrase=True, boost=float(boost), slop=int(slop),
                      span_in_order=in_order)


def _parse_fuzzy(body: dict) -> FuzzyClause:
    """ES ``fuzzy`` body -> :class:`FuzzyClause`. The value is a TERM
    (ES fuzzy is term-level, not analyzed) — the engine normalizes it
    through the analyzer and requires exactly one token. ``fuzziness``
    takes an int or ES "AUTO" (0 below 3 chars, 1 for 3-5, 2 from 6 —
    the AUTO:3,6 defaults); ``rewrite``/``transpositions`` stay
    out-of-grammar (the engine's expansion scoring is dis_max,
    documented)."""
    (fld, spec), = body.items()
    if isinstance(spec, str):
        spec = {"value": spec}
    if not isinstance(spec, dict) or "value" not in spec             or not isinstance(spec["value"], str):
        raise DslError(f"fuzzy needs a string value, got {spec!r}")
    unknown = set(spec) - {"value", "fuzziness", "prefix_length",
                           "max_expansions"}
    if unknown:
        raise DslError(f"unsupported fuzzy options {sorted(unknown)}")
    toks = tokenize_text(spec["value"])
    if len(toks) != 1:
        raise DslError(
            f"fuzzy value must analyze to exactly one term, "
            f"{spec['value']!r} gave {toks!r}")
    value = toks[0]
    fz = spec.get("fuzziness", "AUTO")
    if fz == "AUTO":
        fz = 0 if len(value) < 3 else (1 if len(value) <= 5 else 2)
    if isinstance(fz, bool) or not isinstance(fz, int) or fz < 0:
        raise DslError(f"fuzziness must be an int >= 0 or 'AUTO', "
                       f"got {spec.get('fuzziness')!r}")
    pl = spec.get("prefix_length", 0)
    if isinstance(pl, bool) or not isinstance(pl, int) or pl < 0:
        raise DslError(f"prefix_length must be an int >= 0, got {pl!r}")
    mx = spec.get("max_expansions", 50)
    if isinstance(mx, bool) or not isinstance(mx, int) or mx < 1:
        raise DslError(f"max_expansions must be an int >= 1, got {mx!r}")
    return FuzzyClause(field=_ident(fld), value=value, fuzziness=fz,
                       prefix_length=pl, max_expansions=mx)


def _parse_terms_set(body: dict) -> TermsSetClause:
    """ES ``terms_set`` body -> :class:`TermsSetClause`. Terms are
    term-level like the fuzzy value (each must analyze to exactly one
    token; duplicates collapse — Lucene TermInSetQuery semantics).
    Exactly one of ``minimum_should_match_field`` (numeric doc column)
    or ``minimum_should_match_script`` (the painless subset of
    :func:`_compile_score_script` with ``params.num_terms`` injected —
    the ES-documented idiom ``Math.min(params.num_terms,
    doc['required'].value)``) must be given; ``_score`` is meaningless
    inside a minimum and fails loud. The script result truncates to a
    long (the Lucene LongValuesSource cast) and clamps to >= 1 (the
    CoveringScorer rule)."""
    if not isinstance(body, dict) or len(body) != 1:
        raise DslError(f"bad terms_set body {body!r}")
    (fld, spec), = body.items()
    if not isinstance(spec, dict):
        raise DslError(f"bad terms_set body {spec!r}")
    unknown = set(spec) - {"terms", "minimum_should_match_field",
                           "minimum_should_match_script", "boost"}
    if unknown:
        raise DslError(f"unsupported terms_set options {sorted(unknown)}")
    raw_terms = spec.get("terms")
    if not isinstance(raw_terms, (list, tuple)) or not raw_terms \
            or not all(isinstance(t, str) for t in raw_terms):
        raise DslError("terms_set needs a non-empty string terms list")
    terms = []
    for t in raw_terms:
        toks = tokenize_text(t)
        if len(toks) != 1:
            raise DslError(
                f"each terms_set term must analyze to exactly one "
                f"token, {t!r} gave {toks!r}")
        if toks[0] not in terms:
            terms.append(toks[0])
    msm_field = spec.get("minimum_should_match_field")
    msm_script = spec.get("minimum_should_match_script")
    if (msm_field is None) == (msm_script is None):
        raise DslError("terms_set needs exactly one of "
                       "minimum_should_match_field / _script")
    boost = spec.get("boost", 1.0)
    if isinstance(boost, bool) or not isinstance(boost, (int, float)) \
            or boost <= 0:
        raise DslError(f"terms_set boost must be > 0, got {boost!r}")
    fld = _ident(fld)
    children = tuple(TextClause(field=fld, text=t) for t in terms)
    if msm_field is not None:
        return TermsSetClause(field=fld, children=children,
                              msm_field=_ident(msm_field),
                              msm_script=None, msm_src=None,
                              script_fields=(), boost=float(boost))
    if isinstance(msm_script, str):
        msm_script = {"source": msm_script}
    if not isinstance(msm_script, dict):
        raise DslError(
            f"bad minimum_should_match_script {msm_script!r}")
    sunknown = set(msm_script) - {"source", "params"}
    if sunknown:
        raise DslError(f"unsupported script keys {sorted(sunknown)}")
    src = msm_script.get("source")
    if isinstance(src, str) and _re.search(r"(?<!\w)_score\b", src):
        raise DslError("_score is meaningless in a terms_set minimum")
    params = dict(msm_script.get("params", {}))
    params.setdefault("num_terms", len(terms))
    compiled, fields = _compile_score_script(src, params)
    return TermsSetClause(
        field=fld, children=children, msm_field=None,
        msm_script=compiled,
        msm_src=(src, tuple(sorted(params.items()))),
        script_fields=fields, boost=float(boost))


def _span_or_as_bool(body) -> "QuerySpec":
    """ES ``span_or`` -> a bool-should over the child spans with
    minimum_should_match 1 (any child span matches). Under the
    engine's documented span scoring family the union scores as the
    sum of the matched children's BM25 (Lucene sums the matching
    spans' freq). Children: span_term / span_near / span_first —
    each already a :class:`TextClause` desugar, so both executors
    support the algebra for free; deeper nesting (span_or inside
    span_near, span_not) stays fail-loud."""
    if not isinstance(body, dict):
        raise DslError(f"bad span_or body {body!r}")
    unknown = set(body) - {"clauses"}
    if unknown:
        raise DslError(f"unsupported span_or options {sorted(unknown)}")
    clauses = body.get("clauses")
    if not isinstance(clauses, list) or not clauses:
        raise DslError("span_or needs a non-empty clauses list")
    child = QuerySpec()
    for cl in clauses:
        if not (isinstance(cl, dict) and len(cl) == 1
                and next(iter(cl)) in ("span_term", "span_near",
                                       "span_first", "span_not")):
            raise DslError(
                f"span_or clauses must be span queries "
                f"(span_term/span_near/span_first/span_not), got {cl!r}")
        (ck, cb), = cl.items()
        child.should.append(_parse_span(ck, cb))
    child.msm = 1
    return child


# intervals "unlimited gaps" (ES max_gaps: -1): a slop bound no human
# document can exceed — the window predicate compares position
# differences against it, so any value above max doc length is exact
_UNLIMITED_GAPS = 1 << 30


def _parse_intervals(body) -> "TextClause | QuerySpec":
    """ES ``intervals`` -> TextClause / bool-QuerySpec desugar. The
    modern proximity query (ES 7+, the span family's replacement):

    - ``match`` rule: the analyzed terms within ``max_gaps`` total
      gaps (width - k; -1 = unlimited, the ES default), ``ordered``
      or not — EXACTLY the Lucene SpanNearQuery window rule this
      engine already implements (span_exists_expr: width <= slop +
      k - 1 ⟺ gaps <= slop), so a multi-term match desugars to the
      span clause with slop = max_gaps. The unordered-unlimited
      distinct-terms case degenerates to a conjunctive match (cheap,
      prunable); duplicate terms keep the span predicate (distinct
      occurrences required, Lucene rule). One term = a term match.
    - ``any_of``: union of the sub-rules — a bool-should msm=1.
    - ``all_of``: all sub-rules match (the ES DEFAULT semantics:
      max_gaps -1, ordered false — relative-position constraints
      between sub-intervals need interval-extent algebra the
      existence predicates don't expose, so those options fail loud)
      — a bool-must.

    Scoring is the engine's documented span family (per-term BM25 sum
    per matched rule; matched any_of/all_of children sum).

    - ``prefix`` rule (round 5, this session): any term carrying the
      prefix — the same data-dependent vocabulary expansion
      match_phrase_prefix resolves (term-dict order, capped at 128
      like Lucene's interval prefix automaton), desugared to a
      lead-less :class:`PhrasePrefixClause`, so both executors resolve
      it through their existing expanders. Documented deviation: the
      engine scores the best expanded term's BM25 (the expansion-
      scoring rule fuzzy/match_phrase_prefix document) where ES scores
      interval coverage.

    ``wildcard``/``fuzzy`` rules and ``filter`` blocks stay fail-loud.
    """
    if not isinstance(body, dict) or len(body) != 1:
        raise DslError(f"intervals needs exactly one field, got {body!r}")
    (fld, rule), = body.items()
    fld = _ident(fld)

    def walk(r) -> "TextClause | QuerySpec":
        if not isinstance(r, dict) or len(r) != 1:
            raise DslError(f"bad intervals rule {r!r}")
        (rk, rb), = r.items()
        if rk == "match":
            if not isinstance(rb, dict):
                raise DslError(f"bad intervals match {rb!r}")
            unknown = set(rb) - {"query", "max_gaps", "ordered"}
            if unknown:
                raise DslError(
                    f"unsupported intervals match options "
                    f"{sorted(unknown)}")
            q = rb.get("query")
            if not isinstance(q, str):
                raise DslError(
                    f"intervals match needs a string query, got {q!r}")
            toks = tokenize_text(q)
            if not toks:
                raise DslError(
                    f"intervals match query {q!r} analyzes to no terms")
            g = rb.get("max_gaps", -1)
            if isinstance(g, bool) or not isinstance(g, int) or g < -1:
                raise DslError(
                    f"intervals max_gaps must be an int >= -1, got {g!r}")
            ordered = rb.get("ordered", False)
            if not isinstance(ordered, bool):
                raise DslError(
                    f"intervals ordered must be a bool, got {ordered!r}")
            if len(toks) == 1:
                return TextClause(field=fld, text=toks[0], operator="and")
            if g == -1 and not ordered and len(set(toks)) == len(toks):
                # unordered, unlimited gaps, no duplicate terms: the
                # window constraint is vacuous — plain conjunction
                return TextClause(field=fld, text=" ".join(toks),
                                  operator="and")
            return TextClause(field=fld, text=" ".join(toks),
                              operator="and", phrase=True,
                              slop=g if g >= 0 else _UNLIMITED_GAPS,
                              span_in_order=ordered)
        if rk in ("any_of", "all_of"):
            if not isinstance(rb, dict):
                raise DslError(f"bad intervals {rk} {rb!r}")
            unknown = set(rb) - {"intervals"}
            if unknown:
                # all_of's ordered/max_gaps constrain RELATIVE positions
                # of sub-intervals — inexpressible exactly here, so the
                # grammar refuses rather than silently ignoring them
                raise DslError(
                    f"unsupported intervals {rk} options "
                    f"{sorted(unknown)}")
            subs = rb.get("intervals")
            if not isinstance(subs, list) or not subs:
                raise DslError(
                    f"intervals {rk} needs a non-empty intervals list")
            child = QuerySpec()
            for sub in subs:
                parsed = walk(sub)
                if rk == "any_of":
                    (child.should if isinstance(parsed, TextClause)
                     else child.should_bool).append(parsed)
                else:
                    (child.must if isinstance(parsed, TextClause)
                     else child.must_bool).append(parsed)
            if rk == "any_of":
                child.msm = 1
            return child
        if rk == "prefix":
            if not isinstance(rb, dict):
                raise DslError(f"bad intervals prefix {rb!r}")
            unknown = set(rb) - {"prefix"}
            if unknown:
                # analyzer/use_field change what the expansion matches
                # against — silently ignoring them is the divergence
                # failure mode this grammar refuses
                raise DslError(
                    f"unsupported intervals prefix options "
                    f"{sorted(unknown)}")
            p = rb.get("prefix")
            if not isinstance(p, str):
                raise DslError(
                    f"intervals prefix needs a string, got {p!r}")
            ptoks = tokenize_text(p)
            if len(ptoks) != 1:
                raise DslError(
                    f"intervals prefix must analyze to exactly one "
                    f"term, {p!r} gave {ptoks!r}")
            child = QuerySpec()
            child.fuzzy.append(("must", PhrasePrefixClause(
                field=fld, lead=(), prefix=ptoks[0],
                max_expansions=128)))
            return child
        raise DslError(
            f"unsupported intervals rule {rk!r} (supported: match, "
            f"any_of, all_of, prefix)")

    return walk(rule)


def _parse_phrase_prefix(body: dict) -> PhrasePrefixClause:
    """ES ``match_phrase_prefix`` body -> :class:`PhrasePrefixClause`.
    The query analyzes through the engine tokenizer; it must yield at
    least one term (an all-punctuation query is out-of-grammar, the
    fail-loud twin of ES's silent match-none)."""
    (fld, spec), = body.items()
    if isinstance(spec, str):
        spec = {"query": spec}
    if not isinstance(spec, dict):
        raise DslError(f"bad match_phrase_prefix body {spec!r}")
    unknown = set(spec) - {"query", "max_expansions", "slop", "boost"}
    if unknown:
        raise DslError(
            f"unsupported match_phrase_prefix options {sorted(unknown)}")
    if "query" not in spec or not isinstance(spec["query"], str):
        raise DslError(
            f"match_phrase_prefix needs query text, got {spec!r}")
    toks = tokenize_text(spec["query"])
    if not toks:
        raise DslError(
            f"match_phrase_prefix query must analyze to at least one "
            f"term, {spec['query']!r} gave none")
    mx = spec.get("max_expansions", 50)
    if isinstance(mx, bool) or not isinstance(mx, int) or mx < 1:
        raise DslError(f"max_expansions must be an int >= 1, got {mx!r}")
    slop = spec.get("slop", 0)
    if isinstance(slop, bool) or not isinstance(slop, int) or slop < 0:
        raise DslError(f"slop must be a non-negative int, got {slop!r}")
    boost = spec.get("boost", 1.0)
    if isinstance(boost, bool) or not isinstance(boost, (int, float)) \
            or not boost > 0:
        raise DslError(f"boost must be a positive number, got {boost!r}")
    return PhrasePrefixClause(
        field=_ident(fld), lead=tuple(toks[:-1]), prefix=toks[-1],
        max_expansions=mx, slop=int(slop), boost=float(boost))


def _desugar_match_bool_prefix(body: dict) -> dict:
    """ES ``match_bool_prefix`` -> the bool query ES documents it as:
    every term but the last becomes its own ``match`` clause (should
    under ``operator: or`` — the default — must under ``and``), the
    last term a single-term ``match_phrase_prefix`` (vocabulary prefix
    expansion in term-dict order). A pure parse-time desugar — zero
    new execution code, the query_string pattern. Documented
    deviation: ES scores the prefix part as a CONSTANT-SCORE prefix
    query; the engine scores it as the best expanded term match (the
    same expansion-scoring rule fuzzy and match_phrase_prefix already
    document)."""
    if not isinstance(body, dict) or len(body) != 1:
        raise DslError(f"bad match_bool_prefix body {body!r}")
    (fld, spec), = body.items()
    if isinstance(spec, str):
        spec = {"query": spec}
    if not isinstance(spec, dict):
        raise DslError(f"bad match_bool_prefix body {spec!r}")
    unknown = set(spec) - {"query", "operator", "max_expansions",
                           "minimum_should_match"}
    if unknown:
        raise DslError(
            f"unsupported match_bool_prefix options {sorted(unknown)}")
    if "query" not in spec or not isinstance(spec["query"], str):
        raise DslError(
            f"match_bool_prefix needs query text, got {spec!r}")
    op = spec.get("operator", "or")
    if op not in ("or", "and"):
        raise DslError(f"operator must be or|and, got {op!r}")
    toks = tokenize_text(spec["query"])
    if not toks:
        raise DslError(
            f"match_bool_prefix query must analyze to at least one "
            f"term, {spec['query']!r} gave none")
    pp: dict = {"query": toks[-1]}
    if "max_expansions" in spec:
        pp["max_expansions"] = spec["max_expansions"]
    clauses = [{"match": {fld: {"query": t}}} for t in toks[:-1]] \
        + [{"match_phrase_prefix": {fld: pp}}]
    ctx = "must" if op == "and" else "should"
    bq: dict = {ctx: clauses}
    if "minimum_should_match" in spec:
        if op == "and":
            raise DslError(
                "minimum_should_match only applies under operator: or")
        bq["minimum_should_match"] = spec["minimum_should_match"]
    return {"bool": bq}


def _match_fuzzy_body(body) -> bool:
    """True when a ``match`` body is the long form carrying
    ``fuzziness`` — the shape :func:`_desugar_match_fuzzy` handles;
    every other shape keeps riding :func:`_parse_text` (whose
    allowlist still fails loud on fuzziness combined with options the
    desugar doesn't support, e.g. boost)."""
    if not isinstance(body, dict) or len(body) != 1:
        return False
    (_, spec), = body.items()
    return isinstance(spec, dict) and "fuzziness" in spec


def _desugar_match_fuzzy(body: dict) -> dict:
    """ES ``match`` with ``fuzziness`` -> the bool of per-term
    ``fuzzy`` leaves ES's MatchQuery builds internally: each analyzed
    token becomes a FuzzyQuery (operator ``or`` -> should with
    minimum_should_match 1, ``and`` -> must);
    ``fuzziness``/``prefix_length``/``max_expansions`` forward to
    every leaf, and ``AUTO`` resolves PER TERM length inside
    :func:`_parse_fuzzy` (the ES AUTO:3,6 rule — short tokens in the
    same query stay exact while long ones fuzz, exactly like ES).
    A pure parse-time desugar — zero new execution code, the
    match_bool_prefix pattern. Scoring rides the engine's documented
    fuzzy rule (dis_max over expansions; ES blends term stats).
    ``boost`` with fuzziness stays out of grammar (the fuzzy leaf
    carries no boost)."""
    (fld, spec), = body.items()
    unknown = set(spec) - {"query", "operator", "fuzziness",
                           "prefix_length", "max_expansions"}
    if unknown:
        raise DslError(
            f"unsupported fuzzy-match options {sorted(unknown)}")
    if "query" not in spec or not isinstance(spec["query"], str):
        raise DslError(f"match needs query text, got {spec!r}")
    op = spec.get("operator", "or")
    if op not in ("or", "and"):
        raise DslError(f"operator must be or|and, got {op!r}")
    toks = tokenize_text(spec["query"])
    if not toks:
        raise DslError(
            f"match query must analyze to at least one term, "
            f"{spec['query']!r} gave none")
    leaf = {k: spec[k] for k in ("fuzziness", "prefix_length",
                                 "max_expansions") if k in spec}
    clauses = [{"fuzzy": {fld: {"value": t, **leaf}}} for t in toks]
    if op == "and":
        return {"bool": {"must": clauses}}
    return {"bool": {"should": clauses, "minimum_should_match": 1}}


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


def _parse_tie_breaker(body: dict) -> float:
    tb = body.get("tie_breaker", 0.0)
    if isinstance(tb, bool) or not isinstance(tb, (int, float)) \
            or not 0.0 <= tb <= 1.0:
        raise DslError(f"tie_breaker must be a float in [0, 1], got {tb!r}")
    return float(tb)


def _parse_dismax(body: dict) -> DisMax:
    """ES ``dis_max`` body -> :class:`DisMax`. Children are restricted
    to match/match_phrase (the subset best_fields desugars into);
    arbitrary child queries stay out-of-grammar."""
    if not isinstance(body, dict) or "queries" not in body:
        raise DslError("dis_max needs a queries list")
    unknown = set(body) - {"queries", "tie_breaker"}
    if unknown:
        raise DslError(f"unsupported dis_max options {sorted(unknown)}")
    kids = []
    for c in _as_list(body["queries"]):
        if not isinstance(c, dict) or len(c) != 1:
            raise DslError(f"bad dis_max child {c!r}")
        (ck, cb), = c.items()
        if ck not in ("match", "match_phrase"):
            raise DslError(
                f"dis_max children must be match/match_phrase, got {ck!r}")
        kids.append(_parse_text(ck, cb))
    if not kids:
        raise DslError("dis_max needs at least one child query")
    return DisMax(children=tuple(kids),
                  tie_breaker=_parse_tie_breaker(body))


def _parse_multi_match(body: dict) -> DisMax | "QuerySpec":
    """ES ``multi_match`` -> its documented desugaring: ``best_fields``
    (the default) is a dis_max over per-field match clauses,
    ``most_fields`` a bool-should of them (minimum_should_match 1)."""
    if not isinstance(body, dict):
        raise DslError("multi_match body must be a dict")
    text = body.get("query")
    fields = body.get("fields")
    if not isinstance(text, str) or not isinstance(fields, list) \
            or not fields:
        raise DslError("multi_match needs query text and a fields list")
    unknown = set(body) - {"query", "fields", "type", "operator",
                           "tie_breaker"}
    if unknown:
        raise DslError(f"unsupported multi_match options {sorted(unknown)}")
    mtype = body.get("type", "best_fields")
    if mtype not in ("best_fields", "most_fields"):
        raise DslError(f"multi_match type {mtype!r} not supported")
    operator = body.get("operator", "or")
    if operator not in ("and", "or"):
        raise DslError(f"match operator {operator!r} not supported")
    for f in fields:
        if not isinstance(f, str):
            raise DslError(f"multi_match fields must be strings, got {f!r}")
        if "^" in f:
            raise DslError(
                "per-field boosts (field^n) are not supported")
    clauses = [TextClause(field=_ident(f), text=text, operator=operator)
               for f in fields]
    if mtype == "best_fields":
        return DisMax(children=tuple(clauses),
                      tie_breaker=_parse_tie_breaker(body))
    child = QuerySpec()
    child.should = clauses
    child.msm = 1
    return child


def _validate_msm(msm) -> None:
    """The ES minimum_should_match grammar: an int (negative = "all
    but |n|") or a percentage string "75%" / "-25%"."""
    if isinstance(msm, str):
        core = msm[1:] if msm.startswith("-") else msm
        if not (core.endswith("%") and core[:-1].isdigit()):
            raise DslError(
                f"minimum_should_match string must be a percentage "
                f"like '75%' or '-25%', got {msm!r}")
    elif isinstance(msm, bool) or not isinstance(msm, int):
        raise DslError(
            f"minimum_should_match must be an int or a percentage "
            f"string, got {msm!r}")


def _parse_mlt(body: dict) -> MltClause:
    """ES ``more_like_this`` body -> :class:`MltClause`. ``fields``
    must name exactly ONE field (multi-field MLT would need per-field
    stats fan-out — out of grammar, fail loud) and ``like`` must be
    text (a str, or a list of strs analyzed as one bag — ES's
    multi-like tf summing); document references (``{"_id": ...}``)
    are out of grammar."""
    if not isinstance(body, dict):
        raise DslError(f"bad more_like_this body {body!r}")
    unknown = set(body) - {"fields", "like", "max_query_terms",
                           "min_term_freq", "min_doc_freq",
                           "max_doc_freq", "minimum_should_match"}
    if unknown:
        raise DslError(
            f"unsupported more_like_this options {sorted(unknown)}")
    flds = body.get("fields")
    if not isinstance(flds, (list, tuple)) or len(flds) != 1 \
            or not isinstance(flds[0], str):
        raise DslError(
            "more_like_this needs fields: [<one field>] (multi-field "
            "MLT is not supported)")
    like = body.get("like")
    if isinstance(like, str):
        like = [like]
    if not isinstance(like, (list, tuple)) or not like \
            or not all(isinstance(x, str) for x in like):
        raise DslError(
            "more_like_this needs like: <text> or [<texts>] (document "
            "references are not supported)")
    toks: list[str] = []
    for x in like:
        toks.extend(tokenize_text(x))
    if not toks:
        raise DslError(
            "more_like_this like-text must analyze to at least one "
            "term")
    ints = {}
    for k, dflt, lo in (("max_query_terms", 25, 1),
                        ("min_term_freq", 2, 1),
                        ("min_doc_freq", 5, 1)):
        v = body.get(k, dflt)
        if isinstance(v, bool) or not isinstance(v, int) or v < lo:
            raise DslError(f"{k} must be an int >= {lo}, got {v!r}")
        ints[k] = v
    mx = body.get("max_doc_freq")
    if mx is not None and (isinstance(mx, bool)
                           or not isinstance(mx, int) or mx < 1):
        raise DslError(f"max_doc_freq must be an int >= 1, got {mx!r}")
    msm = body.get("minimum_should_match", "30%")
    _validate_msm(msm)
    return MltClause(field=_ident(flds[0]), like_tokens=tuple(toks),
                     max_query_terms=ints["max_query_terms"],
                     min_term_freq=ints["min_term_freq"],
                     min_doc_freq=ints["min_doc_freq"],
                     max_doc_freq=mx, msm=msm)


def _select_mlt_terms(mc: MltClause, n_docs: int,
                      df_by_term: dict) -> list[str]:
    """The Lucene MoreLikeThis selection over resolved stats: qualify
    by tf/df bounds, rank by tf*idf desc with (score desc, term asc)
    determinism, cap at max_query_terms. Pure driver-side arithmetic
    over at most |like-tokens| candidates."""
    from collections import Counter  # noqa: PLC0415
    cands = []
    for t, tf in Counter(mc.like_tokens).items():
        if tf < mc.min_term_freq:
            continue
        df = int(df_by_term.get(t, 0))
        if df < mc.min_doc_freq:
            continue
        if mc.max_doc_freq is not None and df > mc.max_doc_freq:
            continue
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        cands.append((-(tf * idf), t))
    cands.sort()
    return [t for _, t in cands[:mc.max_query_terms]]


def _mlt_child_spec(mc: MltClause, terms: list[str]) -> QuerySpec:
    """Selected terms -> the desugared bool-should child. The msm
    resolves HERE (against the selected-term count) and floors at 1:
    Lucene's MLT disjunction needs at least one matching term even
    when "30%" of few terms rounds to 0 — the engine's explicit-msm-0
    match-all semantics would diverge. An empty selection yields an
    UNSATISFIABLE spec (msm=1 with no live should — Lucene's empty
    boolean query matches nothing): empty result in must/filter,
    never-matching in should, a no-op in must_not."""
    n = len(terms)
    msm = mc.msm
    if isinstance(msm, str):
        pct = int(msm.rstrip("%"))
        resolved = (n * pct) // 100 if pct >= 0 \
            else n - (n * (-pct)) // 100
    elif msm < 0:
        resolved = max(0, n + msm)
    else:
        resolved = msm
    child = QuerySpec(msm=max(1, resolved))
    for t in terms:
        child.should.append(TextClause(field=mc.field, text=t))
    return child


def _resolve_mlt(spec: QuerySpec, stats_fn) -> QuerySpec:
    """Resolve every :class:`MltClause` in the tree -> a NEW spec where
    each leaf became its desugared bool-should child in the same
    context. ``stats_fn(field, terms) -> (n_docs, {term: df})``."""
    if not spec.has_mlt():
        return spec
    import copy  # noqa: PLC0415
    sp = copy.deepcopy(spec)
    _resolve_mlt_inplace(sp, stats_fn)
    return sp


def _resolve_mlt_inplace(sp: QuerySpec, stats_fn) -> None:
    for ctx, mc in sp.mlt:
        cand = sorted({t for t in mc.like_tokens
                       if mc.like_tokens.count(t) >= mc.min_term_freq})
        n_docs, df_by_term = stats_fn(mc.field, cand)
        child = _mlt_child_spec(
            mc, _select_mlt_terms(mc, n_docs, df_by_term))
        getattr(sp, f"{ctx}_bool").append(child)
    sp.mlt = []
    for ch in sp.child_specs():
        _resolve_mlt_inplace(ch, stats_fn)


def _corpus_mlt_stats(docs_df: DataFrame):
    """Naive-executor MLT stats: ONE corpus agg per (field, term-set)
    — n_docs plus per-term df via array_contains sums (the same shape
    as the main per-clause stats job; MLT adds exactly one extra scan
    because selection must finish before the scoring pass compiles)."""
    def stats(field: str, terms: list[str]):
        tok = tokenize_column(F.col(field))
        exprs = [F.count(F.lit(1)).alias("__n")] + [
            F.sum(F.array_contains(tok, t).cast("int")).alias(f"__d{i}")
            for i, t in enumerate(terms)]
        row = docs_df.agg(*exprs).collect()[0]
        return (int(row["__n"]),
                {t: int(row[f"__d{i}"] or 0)
                 for i, t in enumerate(terms)})
    return stats


def _parse_constant_score(body: dict) -> QuerySpec:
    """ES ``constant_score`` -> a :class:`QuerySpec` whose qualifying
    docs ALL score exactly ``boost`` (ES default 1.0). The wrapped
    clause parses recursively and sits in filter context — its own
    scores never surface, the ES rule."""
    if not isinstance(body, dict):
        raise DslError(f"bad constant_score body {body!r}")
    unknown = set(body) - {"filter", "boost"}
    if unknown:
        raise DslError(
            f"unsupported constant_score options {sorted(unknown)}")
    if "filter" not in body:
        raise DslError("constant_score needs a filter clause")
    boost = body.get("boost", 1.0)
    if isinstance(boost, bool) or not isinstance(boost, (int, float)) \
            or not boost > 0:
        raise DslError(
            f"constant_score boost must be a positive number, "
            f"got {boost!r}")
    spec = QuerySpec(const_boost=float(boost))
    spec.filter_bool.append(parse_query(body["filter"]))
    return spec


# Pinned-score ladder: base minus rank*step. The STEP dwarfs any real
# BM25/function score (so an organic contribution on a pinned doc can
# never reorder the pinned block) yet stays far above the double ulp at
# BASE (~4.2e22), so consecutive ranks remain exactly distinct. ES pins
# with its own huge constants (1.7014122e38 - rank) and documents the
# values as non-meaningful; the engine's differ but order identically.
_PINNED_BASE = 1.7014122e38
_PINNED_STEP = 1e30


def _desugar_pinned(body: dict) -> dict:
    """ES ``pinned`` -> a bool-should desugar: the organic clause plus
    one ``constant_score(ids: [id], boost: BASE - rank*STEP)`` clause
    per pinned id. A should-only bool keeps docs matching EITHER side
    (msm 1), so pinned docs surface even when organic misses them, and
    the huge descending boosts pin list order above every organic
    score — exactly the ES ranking contract (pinned score VALUES are
    documented as non-meaningful there too). Duplicate ids keep their
    first position (ES); the per-index ``docs`` form is a
    multi-index routing feature and stays out of grammar."""
    if not isinstance(body, dict) or set(body) != {"ids", "organic"}:
        raise DslError(
            f"pinned needs exactly ids and organic (the per-index docs "
            f"form is not supported), got "
            f"{sorted(body) if isinstance(body, dict) else body!r}")
    ids = body["ids"]
    if (not isinstance(ids, list) or not ids
            or any(isinstance(i, bool) or not isinstance(i, int)
                   for i in ids)):
        raise DslError(
            f"pinned ids must be a non-empty list of engine doc_ids, "
            f"got {ids!r}")
    if len(ids) > 1000:
        raise DslError(f"pinned supports at most 1000 ids, got {len(ids)}")
    seen: set[int] = set()
    pins = []
    for i in ids:
        if i in seen:
            continue  # ES: first position wins
        seen.add(i)
        pins.append({"constant_score": {
            "filter": {"ids": {"values": [i]}},
            "boost": _PINNED_BASE - len(pins) * _PINNED_STEP}})
    organic = body["organic"]
    if not isinstance(organic, dict) or len(organic) != 1:
        raise DslError(f"bad pinned organic clause {organic!r}")
    return {"bool": {"should": [organic, *pins]}}


def _unwrap_wrapper(body: dict) -> dict:
    """ES ``wrapper`` — a base64-encoded JSON clause, decoded and
    handed back to :func:`parse_query` as if written inline. The ES
    escape hatch for clients that can only ship strings; nothing else
    changes, so every executor and context supports the inner clause
    exactly as its inline form."""
    if (not isinstance(body, dict) or set(body) != {"query"}
            or not isinstance(body["query"], str)):
        raise DslError(
            f"wrapper needs a base64 query string, got {body!r}")
    import base64  # noqa: PLC0415 — stdlib, used only here
    try:
        inner = json.loads(base64.b64decode(body["query"], validate=True))
    except Exception as exc:
        raise DslError(
            f"wrapper query is not base64-encoded JSON: {exc}") from None
    if not isinstance(inner, dict) or len(inner) != 1:
        raise DslError(
            f"wrapper must decode to one clause, got {inner!r}")
    return inner


def _parse_boosting(body: dict) -> QuerySpec:
    """ES ``boosting`` -> a :class:`QuerySpec` carrying the
    (positive, negative, negative_boost) triple. All three keys are
    required (the ES rule); negative_boost must sit in [0, 1] — a
    value above 1 would PROMOTE on the negative match, which ES
    rejects, and silently accepting it would diverge."""
    if not isinstance(body, dict):
        raise DslError(f"bad boosting body {body!r}")
    unknown = set(body) - {"positive", "negative", "negative_boost"}
    if unknown:
        raise DslError(f"unsupported boosting options {sorted(unknown)}")
    for k in ("positive", "negative", "negative_boost"):
        if k not in body:
            raise DslError(f"boosting needs {k!r}")
    nb = body["negative_boost"]
    if isinstance(nb, bool) or not isinstance(nb, (int, float)) \
            or not 0 <= nb <= 1:
        raise DslError(
            f"negative_boost must be a number in [0, 1], got {nb!r}")
    return QuerySpec(boosting=(parse_query(body["positive"]),
                               parse_query(body["negative"]),
                               float(nb)))


_FSCORE_MODIFIERS = {
    # ES field_value_factor modifiers: applied to (factor * value),
    # the Lucene order. SQL stays in the Spark/DuckDB shared subset.
    "none": "{x}", "log": "log10({x})", "log1p": "log10({x} + 1)",
    "log2p": "log10({x} + 2)", "ln": "ln({x})", "ln1p": "ln({x} + 1)",
    "ln2p": "ln({x} + 2)", "square": "({x} * {x})", "sqrt": "sqrt({x})",
    "reciprocal": "(1.0 / {x})",
}

_FSCORE_SCORE_MODES = ("multiply", "sum", "avg", "first", "max", "min")
_FSCORE_BOOST_MODES = ("multiply", "replace", "sum", "avg", "max", "min")


def _fscore_num(v, name: str, *, lo=None, hi=None,
                lo_open=False, hi_open=False) -> float:
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise DslError(f"function_score {name} must be a number, got {v!r}")
    x = float(v)
    if lo is not None and (x <= lo if lo_open else x < lo):
        raise DslError(f"function_score {name} must be "
                       f"{'>' if lo_open else '>='} {lo}, got {v!r}")
    if hi is not None and (x >= hi if hi_open else x > hi):
        raise DslError(f"function_score {name} must be "
                       f"{'<' if hi_open else '<='} {hi}, got {v!r}")
    return x


def _fscore_field_sql(field: str, missing) -> str:
    """Numeric field access -> double SQL; ``missing`` fills NULLs.
    Without ``missing`` a NULL value raises at RUN time (Spark
    raise_error) — the ES rule is a query-time exception, and scoring
    on silently-defaulted values would diverge unseen."""
    ident = _ident(field)
    if missing is not None:
        return (f"coalesce(cast({ident} as double), "
                f"{_sql_lit(_fscore_num(missing, 'missing'))})")
    return (f"coalesce(cast({ident} as double), cast(raise_error("
            f"'function_score: NULL {ident} and no missing value') "
            f"as double))")


def _parse_fvf(body: dict) -> tuple[str, str]:
    """``field_value_factor`` -> (value_sql, field)."""
    if not isinstance(body, dict) or "field" not in body:
        raise DslError(f"bad field_value_factor body {body!r}")
    unknown = set(body) - {"field", "factor", "modifier", "missing"}
    if unknown:
        raise DslError(
            f"unsupported field_value_factor options {sorted(unknown)}")
    field = _ident(body["field"])
    factor = _fscore_num(body.get("factor", 1.0), "factor")
    modifier = body.get("modifier", "none")
    if modifier not in _FSCORE_MODIFIERS:
        raise DslError(f"field_value_factor modifier {modifier!r} not "
                       f"supported ({sorted(_FSCORE_MODIFIERS)})")
    x = f"({_sql_lit(factor)} * {_fscore_field_sql(field, body.get('missing'))})"
    return _FSCORE_MODIFIERS[modifier].format(x=x), field


def _parse_decay(kind: str, body: dict) -> tuple[str, str]:
    """``gauss``/``exp``/``linear`` decay on a NUMERIC field ->
    (value_sql, field). The shape constants (sigma^2 / lambda / s)
    resolve at parse time into plain literals, the ES formulas:
    gauss  = exp(-dist^2 / (2 sigma^2)),  sigma^2 = -scale^2/(2 ln decay)
    exp    = exp(lambda dist),            lambda  = ln(decay)/scale
    linear = max(0, (s - dist)/s),        s       = scale/(1 - decay)
    with dist = max(0, |value - origin| - offset). Date/geo origins are
    out of grammar (fail loud) — numeric covers transcript fields
    (turn_idx, ts via cast upstream)."""
    if not isinstance(body, dict) or len(body) != 1:
        raise DslError(f"bad {kind} body {body!r} (one field)")
    (field, spec), = body.items()
    field = _ident(field)
    if not isinstance(spec, dict):
        raise DslError(f"bad {kind} spec {spec!r}")
    unknown = set(spec) - {"origin", "scale", "offset", "decay"}
    if unknown:
        raise DslError(f"unsupported {kind} options {sorted(unknown)}")
    for k in ("origin", "scale"):
        if k not in spec:
            raise DslError(f"{kind} needs {k!r}")
    origin = _fscore_num(spec["origin"], "origin")
    scale = _fscore_num(spec["scale"], "scale", lo=0.0, lo_open=True)
    offset = _fscore_num(spec.get("offset", 0.0), "offset", lo=0.0)
    decay = _fscore_num(spec.get("decay", 0.5), "decay",
                        lo=0.0, hi=1.0, lo_open=True, hi_open=True)
    dist = (f"greatest(0.0, abs(cast({field} as double) "
            f"- {_sql_lit(origin)}) - {_sql_lit(offset)})")
    if kind == "gauss":
        denom = -(scale * scale) / math.log(decay)  # 2*sigma^2
        return f"exp(-(({dist}) * ({dist})) / {_sql_lit(denom)})", field
    if kind == "exp":
        lam = math.log(decay) / scale
        return f"exp({_sql_lit(lam)} * ({dist}))", field
    s = scale / (1.0 - decay)
    return (f"greatest(0.0, ({_sql_lit(s)} - ({dist})) / {_sql_lit(s)})",
            field)


_FSCORE_VALUE_KINDS = ("field_value_factor", "gauss", "exp", "linear")


def _parse_fscore_fn(fn: dict) -> FScoreFn:
    if not isinstance(fn, dict) or not fn:
        raise DslError(f"bad function_score function {fn!r}")
    unknown = set(fn) - ({"filter", "weight"} | set(_FSCORE_VALUE_KINDS))
    if unknown:
        # script_score / random_score land here: fail loud, never guess
        raise DslError(
            f"unsupported function_score function keys {sorted(unknown)}")
    kinds = [k for k in _FSCORE_VALUE_KINDS if k in fn]
    if len(kinds) > 1:
        raise DslError(f"a function takes at most one of "
                       f"{_FSCORE_VALUE_KINDS}, got {kinds}")
    if not kinds and "weight" not in fn:
        raise DslError("a function needs a weight or a value source "
                       f"({_FSCORE_VALUE_KINDS})")
    weight = _fscore_num(fn.get("weight", 1.0), "weight")
    fields: list[str] = []
    if kinds:
        kind = kinds[0]
        value_sql, fld = (_parse_fvf(fn[kind]) if kind ==
                          "field_value_factor"
                          else _parse_decay(kind, fn[kind]))
        fields.append(fld)
    else:
        value_sql = "1.0"  # weight-only function
    filter_sql = None
    if "filter" in fn:
        fc = fn["filter"]
        if not isinstance(fc, dict) or len(fc) != 1:
            raise DslError(f"bad function filter {fc!r}")
        (fk, fb), = fc.items()
        if fk == "match_all":
            filter_sql = None
        elif fk in ("term", "terms", "range", "exists", "prefix",
                    "wildcard", "regexp", "ids"):
            filter_sql, ffld = _compile_meta(fk, fb)
            fields.append(ffld)
        else:
            # text filters would need per-doc match state inside the
            # score expression — metadata-only is the supported subset
            raise DslError(f"function filters support metadata clauses "
                           f"only, got {fk!r}")
    return FScoreFn(filter_sql=filter_sql, weight=weight,
                    value_sql=value_sql, fields=tuple(fields))


def _parse_function_score(body: dict) -> QuerySpec:
    """ES ``function_score`` -> a :class:`QuerySpec` carrying a
    :class:`FunctionScore`. Supported: ``functions`` (or ONE inline
    function), metadata ``filter`` per function, ``weight``,
    ``field_value_factor``, numeric ``gauss``/``exp``/``linear``
    decay, ``score_mode``, ``boost_mode``, ``max_boost``,
    ``min_score``, ``boost``. ``script_score``/``random_score`` as
    FUNCTIONS here are out of grammar (random is non-deterministic and
    would break oracle identity; scripts are supported via the
    dedicated top-level ``script_score`` query,
    :func:`_parse_script_score`)."""
    if not isinstance(body, dict):
        raise DslError(f"bad function_score body {body!r}")
    known = ({"query", "functions", "score_mode", "boost_mode",
              "max_boost", "min_score", "boost", "weight"}
             | set(_FSCORE_VALUE_KINDS))
    unknown = set(body) - known
    if unknown:
        raise DslError(
            f"unsupported function_score options {sorted(unknown)}")
    inline = [k for k in ("weight", *_FSCORE_VALUE_KINDS) if k in body]
    if "functions" in body:
        if inline:
            raise DslError(f"function_score takes functions OR an "
                           f"inline function, got both ({inline})")
        raw = body["functions"]
        if not isinstance(raw, list) or not raw:
            raise DslError("function_score functions must be a "
                           "non-empty list")
        funcs = [_parse_fscore_fn(f) for f in raw]
    elif inline:
        funcs = [_parse_fscore_fn({k: body[k] for k in inline})]
    else:
        raise DslError("function_score needs functions or an inline "
                       "function")
    score_mode = body.get("score_mode", "multiply")
    if score_mode not in _FSCORE_SCORE_MODES:
        raise DslError(f"unsupported score_mode {score_mode!r} "
                       f"({_FSCORE_SCORE_MODES})")
    boost_mode = body.get("boost_mode", "multiply")
    if boost_mode not in _FSCORE_BOOST_MODES:
        raise DslError(f"unsupported boost_mode {boost_mode!r} "
                       f"({_FSCORE_BOOST_MODES})")
    max_boost = (None if "max_boost" not in body
                 else _fscore_num(body["max_boost"], "max_boost"))
    min_score = (None if "min_score" not in body
                 else _fscore_num(body["min_score"], "min_score"))
    boost = _fscore_num(body.get("boost", 1.0), "boost",
                        lo=0.0, lo_open=True)
    wrapped = (parse_query(body["query"]) if "query" in body
               else QuerySpec(match_all=True))
    fs = FunctionScore(wrapped=wrapped, funcs=funcs,
                       score_mode=score_mode, boost_mode=boost_mode,
                       max_boost=max_boost, min_score=min_score,
                       boost=boost)
    spec = QuerySpec(fscore=fs)
    # surface every read column for indexed doc_stats validation
    # (the same contract the *_sql predicate lists follow)
    for fn in funcs:
        spec.sql_fields.update(fn.fields)
    return spec


# script_score token grammar: the painless subset real scoring scripts
# write — doc['f'].value field access, params.x (resolved to literals
# at COMPILE time from the request's params dict), _score, numbers,
# arithmetic, and the Math.* calls both Spark SQL and DuckDB expose
# under portable names (ln/log10/sqrt/abs/power/exp/greatest/least).
# No booleans: a score is numeric, so comparisons/&&/|| stay out of
# grammar (ternaries would need them; they fail loud like everywhere
# else in the DSL).
_SCORE_TOKEN = _re.compile(
    r"(\s+)"
    r"|doc\['([A-Za-z_]\w*)'\]\.value"
    r"|params\.([A-Za-z_]\w*)"
    r"|(_score)\b"
    r"|Math\.(log10|log|sqrt|abs|pow|max|min|exp)\b"
    r"|(\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|([-+*/(),])")

_SCORE_MATH_1 = {"log": F.log, "log10": F.log10, "sqrt": F.sqrt,
                 "abs": F.abs, "exp": F.exp}


def _compile_score_script(source: str, params: dict):
    """``script_score`` source -> (closure, fields). The closure takes
    ``(field_col, qscore)`` — a field-name -> Column resolver and the
    wrapped query's score Column — and returns the score Column. This
    is the one DSL compiler that emits COLUMN BUILDERS instead of a
    shared-subset SQL string: the script references ``_score``, a
    per-executor row expression no replayable text could carry (the
    naive executor holds it as the wrapped bool's score expression,
    the indexed executor as the candidate frame's score column).
    ``params.x`` resolve to literals at compile time; Math.* map to
    the portable functions (log->ln, pow->power, max/min->
    greatest/least); unsupported syntax (ternaries, comparisons,
    method calls, unknown vars) fails loud at parse."""
    if not isinstance(source, str) or not source.strip():
        raise DslError(f"script_score needs a script source string, "
                       f"got {source!r}")
    toks, pos, fields = [], 0, []
    while pos < len(source):
        m = _SCORE_TOKEN.match(source, pos)
        if m is None:
            raise DslError(
                f"script_score: unsupported syntax at "
                f"{source[pos:pos + 16]!r} (grammar: doc['f'].value, "
                f"params.x, _score, numbers, + - * / parens, "
                f"Math.log/log10/sqrt/abs/pow/max/min/exp)")
        pos = m.end()
        if m.group(1):
            continue
        if m.group(2):
            f = m.group(2)
            if f not in fields:
                fields.append(f)
            toks.append(("field", f))
        elif m.group(3):
            p = m.group(3)
            if p not in params:
                raise DslError(
                    f"script_score references params.{p} which is not "
                    f"in params {sorted(params)}")
            v = params[p]
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise DslError(
                    f"script_score params.{p} must be a number, "
                    f"got {v!r}")
            toks.append(("num", float(v)))
        elif m.group(4):
            toks.append(("score", None))
        elif m.group(5):
            toks.append(("math", m.group(5)))
        elif m.group(6):
            toks.append(("num", float(m.group(6))))
        else:
            toks.append(("op", m.group(7)))

    # recursive descent into closures (precedence: +- < */ < unary -)
    i = 0

    def peek():
        return toks[i] if i < len(toks) else (None, None)

    def take():
        nonlocal i
        t = toks[i]
        i += 1
        return t

    def expect(op):
        if peek() != ("op", op):
            raise DslError(
                f"script_score: expected {op!r}, got {peek()[1]!r}")
        take()

    def atom():
        kind, val = peek()
        if kind == "num":
            take()
            return lambda fc, qs, v=val: F.lit(v)
        if kind == "field":
            take()
            return lambda fc, qs, f=val: fc(f)
        if kind == "score":
            take()
            return lambda fc, qs: qs
        if kind == "math":
            take()
            name = val
            expect("(")
            args = [add()]
            while peek() == ("op", ","):
                take()
                args.append(add())
            expect(")")
            n = len(args)
            if name == "pow":
                if n != 2:
                    raise DslError("script_score: Math.pow takes "
                                   f"exactly 2 arguments, got {n}")
                return lambda fc, qs, a=args: F.pow(a[0](fc, qs),
                                                    a[1](fc, qs))
            if name in ("max", "min"):
                if n < 2:
                    raise DslError(f"script_score: Math.{name} takes "
                                   f"at least 2 arguments, got {n}")
                g = F.greatest if name == "max" else F.least
                return lambda fc, qs, a=args, g=g: g(
                    *[x(fc, qs) for x in a])
            if n != 1:
                raise DslError(f"script_score: Math.{name} takes "
                               f"exactly 1 argument, got {n}")
            fn = _SCORE_MATH_1[name]
            return lambda fc, qs, a=args[0], fn=fn: fn(a(fc, qs))
        if kind == "op" and val == "(":
            take()
            inner = add()
            expect(")")
            return inner
        raise DslError(f"script_score: expected a value, got {val!r}")

    def unary():
        if peek() == ("op", "-"):
            take()
            sub = unary()
            return lambda fc, qs: -sub(fc, qs)
        return atom()

    def mul():
        left = unary()
        while peek()[0] == "op" and peek()[1] in ("*", "/"):
            op = take()[1]
            right = unary()
            if op == "*":
                left = (lambda fc, qs, a=left, b=right:
                        a(fc, qs) * b(fc, qs))
            else:
                left = (lambda fc, qs, a=left, b=right:
                        a(fc, qs) / b(fc, qs))
        return left

    def add():
        left = mul()
        while peek()[0] == "op" and peek()[1] in ("+", "-"):
            op = take()[1]
            right = mul()
            if op == "+":
                left = (lambda fc, qs, a=left, b=right:
                        a(fc, qs) + b(fc, qs))
            else:
                left = (lambda fc, qs, a=left, b=right:
                        a(fc, qs) - b(fc, qs))
        return left

    body = add()
    if i != len(toks):
        raise DslError(
            f"script_score: trailing tokens after the expression "
            f"({toks[i][1]!r})")
    return body, tuple(fields)


# `_score` as a standalone identifier — not a field or param name
# ending in it (doc['quality_score'].value, params.max_score)
_SCORE_IDENT = _re.compile(r"(?<![\w.'])_score\b")


def _painless_script(sc, ctx: str) -> tuple:
    """An ES ``script`` — the source-string shorthand or ``{"source",
    "params", "lang"}`` — -> ``(source, params)`` for
    :func:`_compile_score_script`. Another lang, unknown keys (a stored
    script ``id``) and non-dict params fail loud."""
    if isinstance(sc, str):
        sc = {"source": sc}
    if not isinstance(sc, dict):
        raise DslError(f"{ctx} needs a script, got {sc!r}")
    unknown = set(sc) - {"source", "params", "lang"}
    if unknown:
        raise DslError(
            f"unsupported script keys {sorted(unknown)} on {ctx} "
            f"(stored scripts by id are out of grammar)")
    if sc.get("lang", "painless") != "painless":
        raise DslError(
            f"{ctx}: unsupported script lang {sc['lang']!r} (only the "
            f"painless subset compiles)")
    params = sc.get("params", {})
    if not isinstance(params, dict):
        raise DslError(f"{ctx}: script params must be a dict, got "
                       f"{params!r}")
    return sc.get("source"), params


def _parse_script_score(body: dict) -> QuerySpec:
    """ES ``script_score`` query -> a :class:`QuerySpec` carrying a
    :class:`FunctionScore` whose single function evaluates the
    compiled script (boost_mode=replace: the script's value IS the
    score — the ES rule). The wrapped query qualifies docs and feeds
    ``_score`` (an unscored wrapped query contributes 1.0, the
    constant-score-leaf rule). NULL field values raise at run time
    (the :func:`_fscore_field_sql` contract) and a NEGATIVE script
    result raises too — ES rejects negative script scores, and
    silently clamping would reorder results unseen. ``min_score``
    drops docs below the final score; works in every executor and
    every bool context (rides the fscore machinery); block-max
    pruning stays off (:func:`_prunable_for_topk`) — per-term bounds
    don't survive arbitrary per-doc arithmetic."""
    if not isinstance(body, dict):
        raise DslError(f"bad script_score body {body!r}")
    unknown = set(body) - {"query", "script", "min_score", "boost"}
    if unknown:
        raise DslError(
            f"unsupported script_score options {sorted(unknown)}")
    if "query" not in body:
        raise DslError("script_score needs a query")
    source, params = _painless_script(body.get("script"), "script_score")
    raw, fields = _compile_score_script(source, params)

    neg_err = ("cast(raise_error('script_score produced a negative "
               "score') as double)")

    def compiled(fc, qs, raw=raw, neg_err=neg_err):
        v = raw(fc, qs).cast("double")
        return F.when(v < 0, F.expr(neg_err)).otherwise(v)

    min_score = (None if "min_score" not in body
                 else _fscore_num(body["min_score"], "min_score"))
    boost = _fscore_num(body.get("boost", 1.0), "boost",
                        lo=0.0, lo_open=True)
    fs = FunctionScore(
        wrapped=parse_query(body["query"]),
        funcs=[FScoreFn(filter_sql=None, weight=1.0, value_sql="1.0",
                        fields=fields, script=compiled,
                        script_src=(source,
                                    tuple(sorted(params.items()))))],
        score_mode="multiply", boost_mode="replace",
        max_boost=None, min_score=min_score, boost=boost)
    spec = QuerySpec(fscore=fs)
    spec.sql_fields.update(fields)
    return spec


_TIME_VALUE_RE = _re.compile(r"^(\d+)(ms|s|m|h|d)$")


def _time_value_seconds(v, name: str) -> float:
    """ES time value (``"7d"``/``"3h"``/``"45m"``/``"30s"``/``"500ms"``)
    -> seconds. Fail loud on anything else (silently-misread pivots
    would scale every score)."""
    m = _TIME_VALUE_RE.match(v) if isinstance(v, str) else None
    if not m:
        raise DslError(
            f"{name} must be an ES time value like '7d'/'3h', got {v!r}")
    sec = int(m.group(1)) * {"ms": 0.001, "s": 1.0, "m": 60.0,
                             "h": 3600.0, "d": 86400.0}[m.group(2)]
    if sec <= 0:
        raise DslError(f"{name} must be positive, got {v!r}")
    return sec


def _parse_rank_feature(body: dict) -> QuerySpec:
    """ES ``rank_feature`` -> a :class:`QuerySpec` carrying a
    :class:`FunctionScore` (boost_mode=replace over an exists-and-
    positive filter — the desugar is exact: rank_feature matches docs
    bearing the feature and scores them with a closed-form function of
    its value, which is precisely one function_score function).

    Functions (Lucene FeatureField):
      saturation: ``boost * S / (S + pivot)`` — pivot is REQUIRED
        (ES derives a default from index feature statistics this
        engine does not keep; a silently-different default would
        reorder results, so it fails loud instead)
      log:        ``boost * ln(scaling_factor + S)``
      sigmoid:    ``boost * S^exp / (S^exp + pivot^exp)``
    Docs where the field is NULL or <= 0 do not match — ES enforces
    positive feature values at index time; the engine enforces the
    same constraint at query time."""
    if not isinstance(body, dict) or "field" not in body:
        raise DslError(f"bad rank_feature body {body!r}")
    unknown = set(body) - {"field", "boost", "saturation", "log",
                           "sigmoid"}
    if unknown:
        raise DslError(
            f"unsupported rank_feature options {sorted(unknown)}")
    fns = [k for k in ("saturation", "log", "sigmoid") if k in body]
    if len(fns) > 1:
        raise DslError(f"rank_feature takes at most one of "
                       f"saturation/log/sigmoid, got {fns}")
    field = _ident(body["field"])
    boost = _fscore_num(body.get("boost", 1.0), "boost",
                        lo=0.0, lo_open=True)
    kind = fns[0] if fns else "saturation"
    spec = body.get(kind, {})
    if not isinstance(spec, dict):
        raise DslError(f"bad rank_feature {kind} body {spec!r}")
    s = f"cast({field} as double)"
    if kind == "saturation":
        if set(spec) - {"pivot"} or "pivot" not in spec:
            raise DslError(
                "rank_feature saturation needs an explicit pivot "
                "(ES's default comes from index statistics this "
                "engine does not keep)")
        pivot = _fscore_num(spec["pivot"], "pivot", lo=0.0, lo_open=True)
        value_sql = f"({s} / ({s} + {_sql_lit(pivot)}))"
    elif kind == "log":
        if set(spec) - {"scaling_factor"} or "scaling_factor" not in spec:
            raise DslError(
                f"rank_feature log needs scaling_factor, got {spec!r}")
        a = _fscore_num(spec["scaling_factor"], "scaling_factor", lo=1.0)
        value_sql = f"ln({_sql_lit(a)} + {s})"
    else:  # sigmoid
        if set(spec) - {"pivot", "exponent"} or not (
                {"pivot", "exponent"} <= set(spec)):
            raise DslError(
                f"rank_feature sigmoid needs pivot and exponent, "
                f"got {spec!r}")
        pivot = _fscore_num(spec["pivot"], "pivot", lo=0.0, lo_open=True)
        exp = _fscore_num(spec["exponent"], "exponent",
                          lo=0.0, lo_open=True)
        try:
            pe_val = pivot ** exp
        except OverflowError:
            pe_val = math.inf
        if not math.isfinite(pe_val) or pe_val <= 0:
            raise DslError(
                f"rank_feature sigmoid pivot^exponent overflows a "
                f"double (pivot={pivot!r}, exponent={exp!r})")
        pe = _sql_lit(pe_val)
        value_sql = (f"(pow({s}, {_sql_lit(exp)}) / "
                     f"(pow({s}, {_sql_lit(exp)}) + {pe}))")
    pred = f"(({field} IS NOT NULL) AND (cast({field} as double) > 0.0))"
    wrapped = QuerySpec()
    wrapped.filter_sql.append(pred)
    wrapped.sql_fields.add(field)
    fs = FunctionScore(
        wrapped=wrapped,
        funcs=[FScoreFn(filter_sql=None, weight=1.0,
                        value_sql=value_sql, fields=(field,))],
        score_mode="multiply", boost_mode="replace",
        max_boost=None, min_score=None, boost=boost)
    out = QuerySpec(fscore=fs)
    out.sql_fields.add(field)
    return out


def _parse_distance_feature(body: dict) -> QuerySpec:
    """ES ``distance_feature`` on a DATE field -> a
    :class:`QuerySpec` carrying a :class:`FunctionScore`:
    ``boost * pivot / (pivot + |field - origin|)`` over docs bearing
    the field. ``origin`` takes an ISO datetime or ES date math
    (``now-1d``, ``<iso>||+1w/d``); ``pivot`` an ES time value
    (``"7d"``). Distances compute at SECOND resolution (ES uses
    millis; the engine's timestamps are second-resolution — the same
    documented deviation as range date math). Geo fields are out of
    grammar — fail loud."""
    if not isinstance(body, dict):
        raise DslError(f"bad distance_feature body {body!r}")
    unknown = set(body) - {"field", "origin", "pivot", "boost"}
    if unknown:
        raise DslError(
            f"unsupported distance_feature options {sorted(unknown)}")
    for k in ("field", "origin", "pivot"):
        if k not in body:
            raise DslError(f"distance_feature needs {k!r}")
    field = _ident(body["field"])
    boost = _fscore_num(body.get("boost", 1.0), "boost",
                        lo=0.0, lo_open=True)
    origin = _resolve_date_math(body["origin"], "gte")
    if isinstance(origin, str):
        try:
            origin = _dt.datetime.fromisoformat(origin)
        except ValueError:
            raise DslError(
                f"distance_feature origin must be a datetime or date "
                f"math, got {body['origin']!r} (geo origins are not "
                f"supported)") from None
    if not isinstance(origin, _dt.datetime):
        raise DslError(
            f"distance_feature origin must be a datetime or date math, "
            f"got {body['origin']!r}")
    # an explicit offset must CONVERT to UTC, not be reinterpreted
    # (replace() on an aware datetime would silently shift the instant)
    if origin.tzinfo is not None:
        origin = origin.astimezone(_dt.timezone.utc)
    else:
        origin = origin.replace(tzinfo=_dt.timezone.utc)
    origin_s = int(origin.timestamp())
    pivot_s = _time_value_seconds(body["pivot"], "distance_feature pivot")
    value_sql = (
        f"({_sql_lit(pivot_s)} / ({_sql_lit(pivot_s)} + "
        f"abs(cast(unix_timestamp({field}) as double) - "
        f"{_sql_lit(float(origin_s))})))")
    wrapped = QuerySpec()
    wrapped.filter_sql.append(f"({field} IS NOT NULL)")
    wrapped.sql_fields.add(field)
    fs = FunctionScore(
        wrapped=wrapped,
        funcs=[FScoreFn(filter_sql=None, weight=1.0,
                        value_sql=value_sql, fields=(field,))],
        score_mode="multiply", boost_mode="replace",
        max_boost=None, min_score=None, boost=boost)
    out = QuerySpec(fscore=fs)
    out.sql_fields.add(field)
    return out


def _script_field_col(field: str):
    """script_score field access: the established fscore rule —
    double-cast, NULL raises at run time (no ``missing`` in the
    script grammar)."""
    return F.expr(_fscore_field_sql(field, None))


def _fscore_factor(fs: FunctionScore, qscore=None):
    """The per-doc function factor as ONE row expression (shared by
    the naive executor over the corpus frame and the indexed executor
    over doc_stats-joined candidates): each function contributes
    weight * value when its filter matches; matched contributions
    combine per ``score_mode``; no function matched -> 1.0 (the ES
    rule); ``max_boost`` caps the result. ``qscore`` is the wrapped
    query's score expression, consumed only by compiled script_score
    functions (``FScoreFn.script``)."""
    parts = []
    for fn in fs.funcs:
        m = (F.coalesce(F.expr(fn.filter_sql), F.lit(False))
             if fn.filter_sql is not None else F.lit(True))
        v = (fn.script(_script_field_col, qscore)
             if fn.script is not None
             else F.expr(fn.value_sql).cast("double")) * F.lit(fn.weight)
        parts.append((m, v, fn.weight))
    mode = fs.score_mode
    if mode == "multiply":
        factor = F.lit(1.0)
        for m, v, _ in parts:
            factor = factor * F.when(m, v).otherwise(F.lit(1.0))
    elif mode in ("sum", "avg"):
        raw = reduce(lambda a, b: a + b,
                     [F.when(m, v).otherwise(F.lit(0.0))
                      for m, v, _ in parts])
        cnt = reduce(lambda a, b: a + b,
                     [m.cast("int") for m, _, _ in parts])
        if mode == "sum":
            factor = F.when(cnt > 0, raw).otherwise(F.lit(1.0))
        else:
            # ES avg is WEIGHTED: sum(w*v) / sum(w) over matched
            wsum = reduce(lambda a, b: a + b,
                          [F.when(m, F.lit(w)).otherwise(F.lit(0.0))
                           for m, _, w in parts])
            factor = F.when(wsum != 0.0, raw / wsum).otherwise(F.lit(1.0))
    elif mode == "first":
        factor = F.coalesce(*[F.when(m, v) for m, v, _ in parts],
                            F.lit(1.0))
    else:  # max | min — greatest/least skip NULL (unmatched) branches
        whens = [F.when(m, v) for m, v, _ in parts]
        best = (whens[0] if len(whens) == 1
                else (F.greatest(*whens) if mode == "max"
                      else F.least(*whens)))
        factor = F.coalesce(best, F.lit(1.0))
    if fs.max_boost is not None:
        factor = F.least(factor, F.lit(fs.max_boost))
    return factor


def _fscore_combine(qscore, factor, fs: FunctionScore):
    """``boost_mode`` combine + query-level boost -> final score."""
    bm = fs.boost_mode
    if bm == "multiply":
        out = qscore * factor
    elif bm == "replace":
        out = factor
    elif bm == "sum":
        out = qscore + factor
    elif bm == "avg":
        out = (qscore + factor) / F.lit(2.0)
    elif bm == "max":
        out = F.greatest(qscore, factor)
    else:
        out = F.least(qscore, factor)
    if fs.boost != 1.0:
        out = out * F.lit(fs.boost)
    return out


def _fscore_fields(fs: FunctionScore) -> list[str]:
    return sorted({f for fn in fs.funcs for f in fn.fields})


def _dismax_as_bool(dm: DisMax) -> "QuerySpec":
    """dis_max reduced to qualification only (filter / must_not
    context): any-child-matches == a bool-should with msm 1."""
    child = QuerySpec()
    child.should = list(dm.children)
    child.msm = 1
    return child


def _resolve_fuzzy(spec: QuerySpec, expand_fn) -> QuerySpec:
    """Resolve every :class:`FuzzyClause` in the tree against a
    vocabulary -> a NEW spec where each fuzzy leaf became a
    :class:`DisMax` over its expansions (score contexts) or a
    qualification-only bool-should (filter/must_not context). An empty
    expansion set behaves exactly like a match on absent terms:
    unsatisfiable in must/filter, silently never-matching in should,
    a no-op in must_not. ``expand_fn(FuzzyClause) -> list[str]``."""
    if not spec.has_fuzzy():
        return spec
    import copy  # noqa: PLC0415
    sp = copy.deepcopy(spec)
    _resolve_fuzzy_inplace(sp, expand_fn)
    return sp


def _resolve_fuzzy_inplace(sp: QuerySpec, expand_fn) -> None:
    for ctx, fc in sp.fuzzy:
        if isinstance(fc, PhrasePrefixClause):
            # each expansion completes the phrase; a single-term query
            # degenerates to plain term matches (slop is meaningless
            # without a second position)
            children = tuple(
                TextClause(field=fc.field,
                           text=" ".join(fc.lead + (t,)),
                           operator="and", phrase=bool(fc.lead),
                           boost=fc.boost,
                           slop=fc.slop if fc.lead else 0)
                for t in expand_fn(fc))
        else:
            children = tuple(
                TextClause(field=fc.field, text=t) for t in expand_fn(fc))
        dm = DisMax(children=children)
        if ctx == "must":
            sp.must_dismax.append(dm)
        elif ctx == "should":
            sp.should_dismax.append(dm)
        elif ctx == "filter":
            sp.filter_bool.append(_dismax_as_bool(dm))
        else:  # must_not
            sp.must_not_bool.append(_dismax_as_bool(dm))
    sp.fuzzy = []
    for ch in sp.child_specs():
        _resolve_fuzzy_inplace(ch, expand_fn)


def _expand_from_vocab(vocab_df: DataFrame, fc) -> list[str]:
    """Terms of a (term)-column frame matching an expandable clause ->
    capped expansion list. Fuzzy: within Levenshtein distance, ranked
    by (distance, term); phrase_prefix: prefix match, FIRST
    ``max_expansions`` in term order (the Lucene term-dict rule,
    TakeOrdered — no full collect). Either way the scan is
    vocabulary-sized (the terms dim / distinct tokens), never
    corpus-sized."""
    if isinstance(fc, PhrasePrefixClause):
        t = F.col("term")
        rows = (vocab_df
                .where(F.substring(t, 1, len(fc.prefix))
                       == F.lit(fc.prefix))
                .select(t.alias("term"))
                .orderBy("term").limit(fc.max_expansions).collect())
        return [r["term"] for r in rows]
    v, fz = fc.value, fc.fuzziness
    t = F.col("term")
    cond = ((F.length(t) >= len(v) - fz) & (F.length(t) <= len(v) + fz)
            & (F.levenshtein(t, F.lit(v)) <= fz))
    if fc.prefix_length:
        pre = v[:fc.prefix_length]
        cond = cond & (F.substring(t, 1, fc.prefix_length) == F.lit(pre))
    rows = (vocab_df.where(cond)
            .select(t.alias("term"),
                    F.levenshtein(t, F.lit(v)).alias("d"))
            .collect())
    ranked = sorted(rows, key=lambda r: (int(r["d"]), r["term"]))
    return [r["term"] for r in ranked[:fc.max_expansions]]


def _token_vocab_expander(docs_df: DataFrame):
    """Naive-executor expansion: distinct analyzed tokens per field
    (cached across clauses of one query)."""
    cache: dict[str, DataFrame] = {}

    def expand(fc: FuzzyClause) -> list[str]:
        if fc.field not in cache:
            cache[fc.field] = (
                docs_df.select(F.explode(
                    tokenize_column(F.col(fc.field))).alias("term"))
                .distinct())
        return _expand_from_vocab(cache[fc.field], fc)

    return expand


def _terms_dim_expander(segs: list):
    """Indexed-executor expansion: the segments' terms dim (the ONLY
    place term strings persist — |vocab|-sized, bucket-partitioned;
    a fuzzy expansion cannot bucket-prune, so it scans the dim, which
    is index metadata, not the corpus)."""
    vocab = None

    def expand(fc: FuzzyClause) -> list[str]:
        nonlocal vocab
        if vocab is None:
            frames = [s.table("terms").select("term") for s in segs]
            vocab = reduce(DataFrame.unionByName, frames).distinct()
        return _expand_from_vocab(vocab, fc)

    return expand


def parse_query(q: dict) -> QuerySpec:
    """ES query JSON (with or without the ``{"query": ...}`` envelope)
    -> :class:`QuerySpec`. Raises :class:`DslError` out-of-grammar."""
    if not isinstance(q, dict) or not q:
        raise DslError("query must be a non-empty dict")
    if "query" in q:
        q = q["query"]
    if not isinstance(q, dict) or len(q) != 1:
        raise DslError("query must hold exactly one top-level clause")
    (kind, body), = q.items()

    spec = QuerySpec()
    if kind == "match_all":
        spec.match_all = True
        return spec
    if kind == "match_none":
        # the ES match_none query: matches NO documents. Desugars to
        # an unsatisfiable shared-subset predicate so both executors
        # (and the filters-agg clause compiler) handle it for free.
        if body != {}:
            raise DslError(f"match_none takes an empty body, got {body!r}")
        spec.filter_sql.append("false")
        return spec
    if kind in ("match", "match_phrase"):
        if kind == "match" and _match_fuzzy_body(body):
            return parse_query(_desugar_match_fuzzy(body))
        spec.must.append(_parse_text(kind, body))
        return spec
    if kind in ("span_term", "span_near", "span_first", "span_not"):
        spec.must.append(_parse_span(kind, body))
        return spec
    if kind == "span_or":
        return _span_or_as_bool(body)
    if kind == "intervals":
        parsed = _parse_intervals(body)
        if isinstance(parsed, TextClause):
            spec.must.append(parsed)
            return spec
        return parsed
    if kind in ("term", "terms", "range", "exists", "prefix", "wildcard",
                "regexp", "ids"):
        pred, fld = _compile_meta(kind, body)
        spec.filter_sql.append(pred)
        spec.sql_fields.add(fld)
        return spec
    if kind == "constant_score":
        return _parse_constant_score(body)
    if kind == "pinned":
        return parse_query(_desugar_pinned(body))
    if kind == "wrapper":
        return parse_query(_unwrap_wrapper(body))
    if kind == "boosting":
        return _parse_boosting(body)
    if kind == "function_score":
        return _parse_function_score(body)
    if kind == "script_score":
        return _parse_script_score(body)
    if kind == "rank_feature":
        return _parse_rank_feature(body)
    if kind == "distance_feature":
        return _parse_distance_feature(body)
    if kind in ("dis_max", "multi_match"):
        parsed = (_parse_dismax(body) if kind == "dis_max"
                  else _parse_multi_match(body))
        if isinstance(parsed, DisMax):
            spec.must_dismax.append(parsed)
        else:
            spec.must_bool.append(parsed)
        return spec
    if kind == "fuzzy":
        spec.fuzzy.append(("must", _parse_fuzzy(body)))
        return spec
    if kind == "terms_set":
        ts = _parse_terms_set(body)
        spec.terms_set.append(("must", ts))
        if ts.msm_field is not None:
            spec.sql_fields.add(ts.msm_field)
        spec.sql_fields.update(ts.script_fields)
        return spec
    if kind == "match_phrase_prefix":
        spec.fuzzy.append(("must", _parse_phrase_prefix(body)))
        return spec
    if kind == "match_bool_prefix":
        return parse_query(_desugar_match_bool_prefix(body))
    if kind == "more_like_this":
        spec.mlt.append(("must", _parse_mlt(body)))
        return spec
    if kind in ("query_string", "simple_query_string"):
        # desugars onto THIS grammar (search/query_string.py), so every
        # executor and context supports it with no new execution code
        from prow_jobs_scraper_spark.search.query_string import (  # noqa: PLC0415
            parse_query_string,
        )
        return parse_query(
            parse_query_string(body, simple=(kind == "simple_query_string")))
    if kind != "bool":
        raise DslError(f"unsupported top-level clause {kind!r}")

    known = {"must", "filter", "should", "must_not", "minimum_should_match"}
    if set(body) - known:
        raise DslError(f"unsupported bool keys {sorted(set(body) - known)}")
    msm = body.get("minimum_should_match")
    if msm is not None:
        _validate_msm(msm)
    spec.msm = msm

    for ctx in ("must", "filter", "should", "must_not"):
        for c in _as_list(body.get(ctx, [])):
            if not isinstance(c, dict) or len(c) != 1:
                raise DslError(f"bad clause in {ctx}: {c!r}")
            (ck, cb), = c.items()
            while ck == "wrapper":
                # decode in place: the inner clause then routes through
                # this very loop exactly like its inline form
                (ck, cb), = _unwrap_wrapper(cb).items()
            if ck == "bool":
                child = parse_query({"bool": cb})
                getattr(spec, f"{ctx}_bool").append(child)
                continue
            if ck in ("query_string", "simple_query_string"):
                from prow_jobs_scraper_spark.search.query_string import (  # noqa: PLC0415
                    parse_query_string,
                )
                child = parse_query(parse_query_string(
                    cb, simple=(ck == "simple_query_string")))
                getattr(spec, f"{ctx}_bool").append(child)
                continue
            if ck == "match_bool_prefix":
                getattr(spec, f"{ctx}_bool").append(
                    parse_query(_desugar_match_bool_prefix(cb)))
                continue
            if ck == "match_all":
                if ctx == "must_not":
                    raise DslError("must_not match_all matches nothing")
                spec.match_all = True
                continue
            if ck == "match_none":
                # never matches: unsatisfiable predicate in must/
                # filter/should (a should that can never fire still
                # counts as a clause for minimum_should_match, the ES
                # clause-count rule); must_not match_none is a no-op
                # (NOT false) rather than a reject — ES accepts it
                if cb != {}:
                    raise DslError(
                        f"match_none takes an empty body, got {cb!r}")
                if ctx in ("must", "filter"):
                    spec.filter_sql.append("false")
                elif ctx == "should":
                    spec.should_sql.append("false")
                else:  # must_not
                    spec.must_not_sql.append("false")
                continue
            if ck == "match" and _match_fuzzy_body(cb):
                # fuzzy match rides its bool desugar as a child bool
                # (fuzzy leaves resolve per executor, like everywhere)
                getattr(spec, f"{ctx}_bool").append(
                    parse_query(_desugar_match_fuzzy(cb)))
                continue
            if ck == "span_or":
                getattr(spec, f"{ctx}_bool").append(_span_or_as_bool(cb))
                continue
            if ck == "intervals":
                parsed = _parse_intervals(cb)
                if not isinstance(parsed, TextClause):
                    getattr(spec, f"{ctx}_bool").append(parsed)
                elif ctx == "must":
                    spec.must.append(parsed)
                elif ctx == "filter":
                    spec.filter_text.append(parsed)
                elif ctx == "should":
                    spec.should.append(parsed)
                else:
                    spec.must_not.append(parsed)
                continue
            if ck in ("match", "match_phrase", "span_term", "span_near",
                      "span_first", "span_not"):
                tc = (_parse_text(ck, cb)
                      if ck in ("match", "match_phrase")
                      else _parse_span(ck, cb))
                if ctx == "must":
                    spec.must.append(tc)
                elif ctx == "filter":
                    spec.filter_text.append(tc)
                elif ctx == "should":
                    spec.should.append(tc)
                else:
                    spec.must_not.append(tc)
            elif ck in ("constant_score", "boosting", "function_score",
                        "script_score", "rank_feature",
                        "distance_feature"):
                # score matters in must/should (constant_score adds
                # `boost`; boosting adds the demoted positive score;
                # function_score/script_score — and the rank/
                # distance_feature queries that desugar onto it — add
                # their combined score); in filter/must_not only
                # qualification survives — all six are exactly the
                # child-bool semantics, so they ride the *_bool lists
                getattr(spec, f"{ctx}_bool").append(
                    _parse_constant_score(cb) if ck == "constant_score"
                    else _parse_boosting(cb) if ck == "boosting"
                    else _parse_function_score(cb)
                    if ck == "function_score"
                    else _parse_script_score(cb)
                    if ck == "script_score"
                    else _parse_rank_feature(cb) if ck == "rank_feature"
                    else _parse_distance_feature(cb))
            elif ck in ("term", "terms", "range", "exists", "prefix",
                        "wildcard", "regexp", "ids"):
                pred, fld = _compile_meta(ck, cb)
                spec.sql_fields.add(fld)
                if ctx in ("must", "filter"):
                    spec.filter_sql.append(pred)
                elif ctx == "must_not":
                    spec.must_not_sql.append(pred)
                else:
                    # should with a meta clause: counts toward
                    # minimum_should_match; scores 0 (the engine's
                    # metadata-scores-0 deviation, module docstring)
                    spec.should_sql.append(pred)
            elif ck == "fuzzy":
                spec.fuzzy.append((ctx, _parse_fuzzy(cb)))
            elif ck == "terms_set":
                ts = _parse_terms_set(cb)
                spec.terms_set.append((ctx, ts))
                if ts.msm_field is not None:
                    spec.sql_fields.add(ts.msm_field)
                spec.sql_fields.update(ts.script_fields)
            elif ck == "match_phrase_prefix":
                spec.fuzzy.append((ctx, _parse_phrase_prefix(cb)))
            elif ck == "more_like_this":
                spec.mlt.append((ctx, _parse_mlt(cb)))
            elif ck in ("dis_max", "multi_match"):
                parsed = (_parse_dismax(cb) if ck == "dis_max"
                          else _parse_multi_match(cb))
                if not isinstance(parsed, DisMax):
                    getattr(spec, f"{ctx}_bool").append(parsed)
                elif ctx in ("filter", "must_not"):
                    # score is irrelevant here: best_fields ==
                    # most_fields == any-child-matches
                    getattr(spec, f"{ctx}_bool").append(
                        _dismax_as_bool(parsed))
                else:
                    getattr(spec, f"{ctx}_dismax").append(parsed)
            else:
                raise DslError(f"unsupported clause {ck!r} in {ctx}")
    return spec


# --------------------------------------------------------------------------
# naive executor: ONE scoring pass for the whole bool query
# --------------------------------------------------------------------------

def _clause_terms(c: TextClause) -> list[str]:
    """Distinct sorted scoring terms of a clause."""
    return sorted(set(tokenize_text(c.text)))


def search_dsl(
    docs_df: DataFrame,
    query: dict,
    k: int,
    params: BM25Params | None = None,
) -> DataFrame:
    """Execute an ES query dict over a corpus frame -> top-k
    ``(doc_id, score)``.

    One stats agg (corpus size + per-field avgdl + every clause term's
    df in a single scan), then one map-side pass where each clause is a
    row expression — the full bool query costs the same two Spark jobs
    as a single match (see module docstring). Ties break on doc_id
    ascending; pure-filter queries (no scoring clause) return score 0.0
    for every qualifying doc, ordered by doc_id — ES's filter-context
    score, with a deterministic order where ES would use internal doc
    order.
    """
    spec = parse_query(query)
    if k <= 0:
        return _no_hits(docs_df.sparkSession)
    if ("doc_id" not in docs_df.columns
            and not {"conv_id", "turn_idx"} <= set(docs_df.columns)):
        raise DslError("search_dsl needs a doc_id (or conv_id+turn_idx) "
                       "column to identify results")
    mf = _matched_frame(docs_df, spec, params or BM25Params())
    if mf is None:
        return _no_hits(docs_df.sparkSession)
    frame, scored = mf
    out = frame.select("doc_id", F.col("__dsl_score").alias("score"))
    order = ([F.desc("score"), F.asc("doc_id")] if scored
             else [F.asc("doc_id")])
    return out.orderBy(*order).limit(k)


def scan_dsl(
    docs_df: DataFrame,
    query: dict,
    params: BM25Params | None = None,
) -> DataFrame:
    """The ES ``helpers.scan`` shape — the reference's PRIMARY access
    pattern (reference src/prowjobsscraper/event.py:221-227 dedup
    window, src/jobsautoreport/query.py:137 report hits,
    src/elasticsearch_cleanup/main.py:113 full-index sweep): the FULL
    qualifying set as doc rows, no top-k, no score ordering (scan
    disables scoring order in ES; here scores simply aren't attached).

    Unlike scroll-batched clients, the result is one distributed
    DataFrame — downstream Spark ops consume it without pagination, so
    at 10^12 turns the "scan" is just a filtered scan, not 10^9 HTTP
    round-trips. Columns = the input's own columns.
    """
    return _scan(_CorpusBackend(docs_df, params), query)


def count_dsl(
    docs_df: DataFrame,
    query: dict,
    params: BM25Params | None = None,
) -> DataFrame:
    """The ES ``_count`` endpoint: the qualifying-set size of a query as
    a 1-row frame ``(count long)`` — scoring skipped by ES in count
    mode; here the count reduces the scan's rows without materializing
    them (one map-side-partial aggregation)."""
    return (scan_dsl(docs_df, query, params)
            .agg(F.count(F.lit(1)).alias("count")))


def _no_hits(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "doc_id long, score double")


def _keyed(docs_df: DataFrame) -> DataFrame:
    """The corpus with the engine's doc_id attached when only the
    transcript key (conv_id, turn_idx) identifies its rows; aggs never
    need an id, so a frame with neither passes through."""
    if ("doc_id" not in docs_df.columns
            and {"conv_id", "turn_idx"} <= set(docs_df.columns)):
        return with_doc_ids(docs_df)
    return docs_df


def _matched_frame(
    docs_df: DataFrame,
    spec: QuerySpec,
    params: BM25Params,
) -> tuple[DataFrame, bool] | None:
    """Qualification core shared by top-k and aggregations: -> (frame
    of QUALIFYING docs — original columns + ``__dsl_score`` — , scored?)
    or None when the query is provably empty. One stats agg + one
    map-side pass regardless of clause count (module docstring)."""
    base, results = _compile_specs(docs_df, [spec], params)
    ok, score_total, qual, scored_q = results[0]
    if not ok:
        return None
    return (base.where(qual).withColumn("__dsl_score", score_total),
            scored_q)


def _compile_specs(
    docs_df: DataFrame,
    specs: list[QuerySpec],
    params: BM25Params,
) -> tuple[DataFrame, list]:
    """Compile a BATCH of specs against one corpus frame: ONE stats agg
    covering every text clause of every spec (corpus size, per-field
    avgdl, per-(field, term) df in a single scan), then per-spec row
    expressions -> (base frame with tokenized columns, [per-spec
    (ok, score_expr, qual_expr, scored)]). ``ok=False`` marks a spec
    provably empty. Single-query callers pass a 1-list; the _msearch
    batch amortizes the scan across queries."""
    docs_df = _keyed(docs_df)

    if any(sp.has_fuzzy() for sp in specs):
        expander = _token_vocab_expander(docs_df)
        specs = [_resolve_fuzzy(sp, expander) for sp in specs]
    if any(sp.has_mlt() for sp in specs):
        stats_fn = _corpus_mlt_stats(docs_df)
        specs = [_resolve_mlt(sp, stats_fn) for sp in specs]

    text_clauses = [c for sp in specs for c in sp.text_clauses()]
    fields = sorted({c.field for c in text_clauses})

    base = docs_df
    tok_of: dict[str, str] = {}
    for i, fld in enumerate(fields):
        tok_of[fld] = f"__toks_{i}"
        base = base.withColumn(tok_of[fld], tokenize_column(F.col(fld)))

    # ---- one stats job: n_docs, per-field avgdl, per-(field, term) df
    terms_by_field: dict[str, list[str]] = {
        fld: sorted({t for c in text_clauses if c.field == fld
                     for t in _clause_terms(c)})
        for fld in fields
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for fld in fields:
        aggs.append(F.avg(F.size(tok_of[fld])).alias(f"avgdl__{fld}"))
        for j, t in enumerate(terms_by_field[fld]):
            aggs.append(
                F.sum(F.array_contains(tok_of[fld], t).cast("long"))
                .alias(f"df__{fld}__{j}"))
    if fields:
        row = base.agg(*aggs).collect()[0]
        n_docs = int(row["n"])
        if n_docs == 0:
            return base, [(False, None, None, False)] * len(specs)
        avgdl = {f: float(row[f"avgdl__{f}"] or 0.0) for f in fields}
        dfs = {(f, t): int(row[f"df__{f}__{j}"] or 0)
               for f in fields for j, t in enumerate(terms_by_field[f])}
    else:
        n_docs, avgdl, dfs = 0, {}, {}

    k1, b = params.k1, params.b

    def clause_exprs(c: TextClause):
        """-> (satisfiable, score_expr, matched_expr)."""
        terms = _clause_terms(c)
        if not terms:
            return False, None, None  # no analyzed terms: never matches
        if c.operator == "and" or c.phrase:
            if any(dfs[(c.field, t)] == 0 for t in terms):
                return False, None, None
            live = terms
        else:
            live = [t for t in terms if dfs[(c.field, t)] > 0]
            if not live:
                return False, None, None
        toks = F.col(tok_of[c.field])
        dl = F.size(toks).cast("double")
        denom = F.lit(k1) * (F.lit(1.0 - b)
                             + F.lit(b) * dl / F.lit(avgdl[c.field]))
        score = F.lit(0.0)
        hits = F.lit(0)
        for t in live:
            idf = math.log(1.0 + (n_docs - dfs[(c.field, t)] + 0.5)
                           / (dfs[(c.field, t)] + 0.5))
            tf = F.size(
                F.filter(toks, (lambda tt: (lambda x: x == F.lit(tt)))(t))
            ).cast("double")
            score = score + F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + denom)
            hits = hits + (tf > 0).cast("int")
        pc, src = c.positional(), _TokenPositions(toks)
        if c.phrase:  # phrase / span_near: the predicate alone qualifies
            matched = _positional_pred(src, pc)
        else:
            matched = hits == len(live) if c.operator == "and" else hits > 0
            if pc is not None:  # span_first / span_not
                matched = matched & _positional_pred(src, pc)
        if c.boost != 1.0:
            score = score * F.lit(c.boost)
        return True, score, matched

    def dismax_exprs(dm: DisMax):
        """-> (satisfiable, score_expr, matched_expr): ES dis_max —
        score = best matched child + tie_breaker * (sum of the other
        matched children), matched = any child matched. Still row
        expressions: a dis_max costs no extra scan."""
        parts = []
        for c in dm.children:
            ok, sc, m = clause_exprs(c)
            if ok:
                parts.append((sc, m))
        if not parts:
            return False, None, None
        matched = reduce(lambda a, b: a | b,
                         [F.coalesce(m, F.lit(False)) for _, m in parts])
        when_scores = [F.when(m, sc) for sc, m in parts]  # NULL unmatched
        best = (when_scores[0] if len(when_scores) == 1
                else F.greatest(*when_scores))  # greatest skips NULLs
        best = F.coalesce(best, F.lit(0.0))
        total = reduce(lambda a, b: a + b,
                       [F.when(m, sc).otherwise(F.lit(0.0))
                        for sc, m in parts])
        score = best + F.lit(dm.tie_breaker) * (total - best)
        return True, score, matched

    def terms_set_exprs(ts: TermsSetClause):
        """-> (satisfiable, score_expr, matched_expr): Lucene
        CoveringQuery — matched when the number of present terms
        clears the PER-DOC minimum (field or script, truncated to
        long, clamped >= 1; NULL minimum never matches), score = sum
        of the matched terms' BM25. Still row expressions — no extra
        pass."""
        parts = []
        for c in ts.children:
            ok, sc, m = clause_exprs(c)
            if ok:
                parts.append((sc, m))
        if not parts:
            return False, None, None
        hits = reduce(lambda a, b: a + b,
                      [m.cast("int") for _, m in parts])
        score = reduce(lambda a, b: a + b,
                       [F.when(m, sc).otherwise(F.lit(0.0))
                        for sc, m in parts])
        if ts.msm_script is not None:
            msm = ts.msm_script(lambda f: F.col(f).cast("double"),
                                None).cast("long")
        else:
            msm = F.col(ts.msm_field).cast("long")
        matched = (msm.isNotNull()
                   & (hits.cast("long")
                      >= F.greatest(F.lit(1).cast("long"), msm)))
        if ts.boost != 1.0:
            score = score * F.lit(ts.boost)
        return True, score, matched

    def spec_exprs(sp: QuerySpec):
        """One (sub)bool -> (ok, score_expr, qual_expr, scored); ok=False
        means provably empty (a required clause can never match). Child
        bools recurse — still row expressions, so the whole TREE stays a
        single map-side pass (no extra scans or joins per nesting level)."""
        if sp.fscore is not None:
            # ES function_score: wrapped exprs -> factor -> combine.
            # Still row expressions — no extra pass; an unscored
            # wrapped query contributes query score 1.0 (the ES
            # constant-score-leaf rule, FunctionScore docstring).
            fs = sp.fscore
            wok, wsc, wq, wscored = spec_exprs(fs.wrapped)
            if not wok:
                return False, None, None, False
            wqs = wsc if wscored else F.lit(1.0)
            final = _fscore_combine(wqs, _fscore_factor(fs, wqs), fs)
            qual = wq
            if fs.min_score is not None:
                qual = (F.coalesce(qual, F.lit(False))
                        & (final >= F.lit(fs.min_score)))
            return True, final, qual, True
        if sp.boosting is not None:
            # ES boosting: qualify by POSITIVE only; demote (never
            # exclude) docs the negative clause also matches. Still
            # row expressions — no extra pass.
            pos, neg, nb = sp.boosting
            pok, psc, pq, pscored = spec_exprs(pos)
            if not pok:
                return False, None, None, False
            nok, _, nq, _ = spec_exprs(neg)
            if nok:
                nq = F.coalesce(nq, F.lit(False))
                psc = F.when(nq, psc * F.lit(nb)).otherwise(psc)
            return True, psc, pq, pscored
        qual = F.lit(True)
        score = F.lit(0.0)
        scored = False
        for c in sp.must:
            ok, sc, m = clause_exprs(c)
            if not ok:
                return False, None, None, False
            qual = qual & m
            score = score + sc
            scored = True
        for dm in sp.must_dismax:
            ok, sc, m = dismax_exprs(dm)
            if not ok:
                return False, None, None, False
            qual = qual & m
            score = score + sc
            scored = True
        for child in sp.must_bool:
            cok, csc, cq, cscored = spec_exprs(child)
            if not cok:
                return False, None, None, False
            qual = qual & cq
            score = score + csc
            scored = scored or cscored
        for tctx, ts in sp.terms_set:
            ok, tsc, tm = terms_set_exprs(ts)
            if tctx == "must":
                if not ok:
                    return False, None, None, False
                qual = qual & tm
                score = score + tsc
                scored = True
            elif tctx == "filter":
                if not ok:
                    return False, None, None, False
                qual = qual & tm
            elif tctx == "must_not":
                if ok:
                    qual = qual & ~F.coalesce(tm, F.lit(False))
            # should handled below with the other should clauses
        for c in sp.filter_text:
            ok, _, m = clause_exprs(c)
            if not ok:
                return False, None, None, False
            qual = qual & m
        for child in sp.filter_bool:
            cok, _, cq, _ = spec_exprs(child)
            if not cok:
                return False, None, None, False
            qual = qual & cq  # filter context qualifies, never scores
        n_should_live = 0
        should_cnt = F.lit(0)
        for c in sp.should:
            ok, sc, m = clause_exprs(c)
            if not ok:
                continue  # an unsatisfiable should simply never matches
            n_should_live += 1
            score = score + F.when(m, sc).otherwise(F.lit(0.0))
            should_cnt = should_cnt + m.cast("int")
        for child in sp.should_bool:
            cok, csc, cq, _ = spec_exprs(child)
            if not cok:
                continue
            n_should_live += 1
            cq = F.coalesce(cq, F.lit(False))
            score = score + F.when(cq, csc).otherwise(F.lit(0.0))
            should_cnt = should_cnt + cq.cast("int")
        for dm in sp.should_dismax:
            ok, sc, m = dismax_exprs(dm)
            if not ok:
                continue
            n_should_live += 1
            score = score + F.when(m, sc).otherwise(F.lit(0.0))
            should_cnt = should_cnt + m.cast("int")
        for tctx, ts in sp.terms_set:
            if tctx != "should":
                continue
            ok, tsc, tm = terms_set_exprs(ts)
            if not ok:
                continue
            n_should_live += 1
            score = score + F.when(tm, tsc).otherwise(F.lit(0.0))
            should_cnt = should_cnt + tm.cast("int")
        if n_should_live:
            scored = True
        for pred in sp.should_sql:
            # meta-in-should: counts toward minimum_should_match at
            # score 0 (never unsatisfiable, never sets `scored`);
            # null-guarded — a NULL field does NOT match the clause
            m = F.coalesce(F.expr(pred), F.lit(False))
            n_should_live += 1
            should_cnt = should_cnt + m.cast("int")
        for c in sp.must_not:
            ok, _, m = clause_exprs(c)
            if ok:
                qual = qual & ~m
        for child in sp.must_not_bool:
            cok, _, cq, _ = spec_exprs(child)
            if cok:
                # a NULL child-qual (filter on a NULL field) means the
                # child did NOT match -> the doc stays (ES must_not)
                qual = qual & ~F.coalesce(cq, F.lit(False))
        msm = sp.minimum_should_match()
        if msm > 0:
            if n_should_live < msm:
                return False, None, None, False
            qual = qual & (should_cnt >= msm)
        for pred in sp.filter_sql:
            qual = qual & F.expr(pred)
        for pred in sp.must_not_sql:
            # ES: must_not against a missing/NULL field MATCHES the doc —
            # null-guard so ~NULL doesn't silently exclude it
            qual = qual & ~F.coalesce(F.expr(pred), F.lit(False))
        if sp.const_boost is not None:
            # ES constant_score: every qualifying doc scores exactly
            # `boost`, whatever the wrapped clause would have scored
            return True, F.lit(sp.const_boost), qual, True
        return True, score, qual, scored

    return base, [spec_exprs(sp) for sp in specs]


def _parse_msearch(requests: list[dict]):
    """Validate an _msearch body -> (qids, specs, sizes)."""
    if not isinstance(requests, list) or not requests:
        raise DslError("_msearch needs a non-empty request list")
    qids, specs, sizes = [], [], {}
    for r in requests:
        if not isinstance(r, dict) or "query_id" not in r:
            raise DslError(f"bad _msearch request {r!r}")
        unknown = set(r) - {"query_id", "query", "size"}
        if unknown:
            # same fail-loud rule as single _search bodies: a silently
            # dropped sort/from would return different results than ES
            raise DslError(
                f"unsupported _msearch request options {sorted(unknown)}")
        qid = str(r["query_id"])
        if qid in sizes:
            raise DslError(f"duplicate query_id {qid!r}")
        k = int(r.get("size", DEFAULT_SIZE))
        if k < 0:
            raise DslError("size must be non-negative")
        q = r.get("query", {"match_all": {}})
        qids.append(qid)
        specs.append(parse_query(q))
        sizes[qid] = k
    return qids, specs, sizes


def search_dsl_many(
    docs_df: DataFrame,
    requests: list[dict],
    params: BM25Params | None = None,
) -> DataFrame:
    """The ES ``_msearch`` endpoint shape: a BATCH of bool queries
    answered in one distributed pass -> ``(query_id, doc_id, score)``
    rows, each query's block rank-identical to its own
    :func:`search_dsl` call (pytest-gated).

    ``requests``: ``[{"query_id": str, "query": <ES query dict>,
    "size": int (default 10)}, ...]``.

    Where ES fans ``_msearch`` bodies out to independent searches, the
    batch here amortizes the Spark work: ONE stats agg covers every
    query's terms in a single corpus scan (:func:`_compile_specs`), one
    map-side pass evaluates every query's (qual, score) row expressions
    simultaneously, and the only exchange is the per-query top-k
    (window over query_id partitions, which carry ONLY qualifying
    rows). At 10^12 turns, n queries cost ~one query's scan instead of
    n scans — the same amortization :func:`..compressed.search_topk_many`
    gives the indexed path."""
    qids, specs, sizes = _parse_msearch(requests)
    spark = docs_df.sparkSession
    empty = spark.createDataFrame([], _ROWS)
    if ("doc_id" not in docs_df.columns
            and not {"conv_id", "turn_idx"} <= set(docs_df.columns)):
        raise DslError("search_dsl_many needs a doc_id (or "
                       "conv_id+turn_idx) column to identify results")
    base, results = _compile_specs(docs_df, specs, params or BM25Params())

    cells = []
    for qid, (ok, score, qual, scored) in zip(qids, results):
        if not ok or sizes[qid] == 0:
            continue  # provably-empty query: contributes no rows
        cells.append(
            F.when(F.coalesce(qual, F.lit(False)),
                   F.struct(F.lit(qid).alias("query_id"),
                            score.alias("score"))))
    if not cells:
        return empty
    rows = (
        base.select("doc_id", F.explode(F.array(*cells)).alias("q"))
        .where(F.col("q").isNotNull())
        .select(F.col("q.query_id").alias("query_id"), "doc_id",
                F.col("q.score").alias("score"))
    )
    # one sort law covers both: a pure-filter spec's score is the
    # constant 0.0, so (score desc, doc_id asc) degenerates to the
    # doc_id ordering search_dsl uses for unscored queries
    return _per_query_topk(rows, sizes)


DEFAULT_SIZE = 10  # the ES `_search` default

# _search body keys the engine honors, plus keys that are SAFE to
# ignore (they shape response metadata/payload we don't emit, never the
# result VALUES). Anything else — highlight, rescore, min_score... —
# would silently change results and must fail loud.
_REQUEST_KEYS = {"query", "size", "from", "search_after", "aggs", "sort",
                 "collapse", "rescore", "highlight", "knn", "_source",
                 "script_fields", "fields"}


def _parse_script_fields(request: dict):
    """ES ``script_fields``: -> None or ``[(name, closure, fields)]``.
    Each script compiles through the painless-subset compiler the
    scoring scripts use (:func:`_compile_score_script` —
    ``doc['f'].value``, ``params.*`` resolved to literals, ``_score``,
    arithmetic, the Math.* portable set; anything else fails loud at
    parse), emitting ONE Catalyst column per field — computed on the
    final page-sized hit frame, never corpus-wide."""
    sf = request.get("script_fields")
    if sf is None:
        return None
    if not isinstance(sf, dict) or not sf:
        raise DslError(
            f"script_fields must be a non-empty dict, got {sf!r}")
    out = []
    for name, spec in sf.items():
        if not isinstance(name, str):
            raise DslError(f"bad script_fields name {name!r}")
        if not isinstance(spec, dict) or set(spec) != {"script"}:
            raise DslError(
                f"script_fields entry {name!r} takes exactly a script, "
                f"got {spec!r}")
        fn, fields = _compile_score_script(*_painless_script(
            spec["script"], f"script_fields {name!r}"))
        out.append((name, fn, fields))
    return out


def _parse_source(request: dict):
    """Top-level ``_source`` AND the ES 8 ``fields`` retrieval option:
    -> None or a merged field-name list. The engine's hit identity is
    ``(doc_id, score)``, so ``_source: true/false`` stay documented
    no-ops (a full-source echo is a join the caller owns); a
    list/string joins exactly those fields onto the hits page.
    ``fields`` entries may be strings or the ES ``{"field": name}``
    long form (``format`` — a rendering knob — fails loud). Wildcard
    patterns and includes/excludes objects fail loud."""
    def _one(key, raw):
        if raw is None or (key == "_source" and isinstance(raw, bool)):
            return []
        if isinstance(raw, str):
            raw = [raw]
        if not isinstance(raw, list) or not raw:
            raise DslError(
                f"{key} must be a field name or a non-empty list, "
                f"got {raw!r}")
        names = []
        for f in raw:
            if isinstance(f, dict):
                if key != "fields" or set(f) != {"field"} \
                        or not isinstance(f.get("field"), str):
                    raise DslError(f"bad {key} entry {f!r}")
                f = f["field"]
            if not isinstance(f, str):
                raise DslError(f"bad {key} entry {f!r}")
            if "*" in f:
                raise DslError(
                    f"{key} wildcard patterns are not supported: {f!r}")
            names.append(_ident(f))
        return names
    merged = list(dict.fromkeys(
        _one("_source", request.get("_source"))
        + _one("fields", request.get("fields"))))
    return merged or None


def _apply_fields(out: DataFrame, be, src, sfs, order) -> DataFrame:
    """Join ``_source`` fields / compute ``script_fields`` onto the
    FINAL hits page — one page-sized join-back from the backend's field
    frame (the highlight precedent; the corpus/doc_stats is touched
    only for the joined rows' columns), then the request ordering is
    restored."""
    want = list(dict.fromkeys(
        (src or []) + [f for _, _, fl in (sfs or []) for f in fl]))
    field_frame = be.field_frame(want)
    missing = [f for f in want if f not in field_frame.columns]
    if missing:
        raise DslError(
            f"_source/script_fields reference field(s) {missing} not "
            f"available (have: {sorted(field_frame.columns)})")
    joined = out
    if want:
        joined = out.join(field_frame.select("doc_id", *want),
                          "doc_id", "left")
    for name, fn, _fl in (sfs or []):
        joined = joined.withColumn(
            name, fn(lambda f: F.col(f), F.col("score")))
    cols = (["doc_id", "score"] + (src or [])
            + [n for n, _, _ in (sfs or [])])
    return joined.select(*cols).orderBy(*order)


def _parse_highlight(request: dict):
    """ES ``highlight``: -> None or ``(fields, pre_tag, post_tag,
    order)`` with fields = ``[(name, number_of_fragments,
    fragment_size), ...]``.

    ``number_of_fragments`` must be given explicitly (globally or per
    field): 0 = whole-field tagging (a string column); N > 0 = the
    word-boundary fragmenter (an array column of up to N tagged
    fragments of ~``fragment_size`` chars, default 100 — see
    :func:`_fragment_highlight` for the documented deviations from
    Lucene's sentence-aware passage scorer). ``order: "score"``
    returns fragments best-first; the default keeps text order (ES).
    An implicit default would silently diverge from the user's
    cluster, so absence fails loud."""
    h = request.get("highlight")
    if h is None:
        return None
    if not isinstance(h, dict):
        raise DslError(f"bad highlight body {h!r}")
    unknown = set(h) - {"fields", "pre_tags", "post_tags",
                        "number_of_fragments", "fragment_size", "order"}
    if unknown:
        raise DslError(f"unsupported highlight options {sorted(unknown)}")
    flds = h.get("fields")
    if not isinstance(flds, dict) or not flds:
        raise DslError("highlight needs fields: {<field>: {...}}")
    order = h.get("order", "none")
    if order not in ("none", "score"):
        raise DslError(f"highlight order must be none|score, got "
                       f"{order!r}")
    global_nf = h.get("number_of_fragments")
    global_fs = h.get("fragment_size", 100)
    fields = []
    for fld, body in flds.items():
        if not isinstance(body, dict):
            raise DslError(f"bad highlight field body {body!r}")
        unknown = set(body) - {"number_of_fragments", "fragment_size"}
        if unknown:
            raise DslError(
                f"unsupported highlight field options {sorted(unknown)}")
        nf = body.get("number_of_fragments", global_nf)
        if isinstance(nf, bool) or not isinstance(nf, int) or nf < 0:
            raise DslError(
                "highlight needs an explicit number_of_fragments "
                "(0 = whole field, N > 0 = fragments) — ES's implicit "
                "default would silently diverge")
        fs = body.get("fragment_size", global_fs)
        if isinstance(fs, bool) or not isinstance(fs, int) or fs < 1:
            raise DslError(f"bad fragment_size {fs!r}")
        fields.append((_ident(fld), nf, fs))

    def tag(key, dflt):
        v = h.get(key, [dflt])
        if isinstance(v, str):
            v = [v]
        if not isinstance(v, (list, tuple)) or len(v) != 1 \
                or not isinstance(v[0], str):
            raise DslError(f"{key} must be a single tag")
        return v[0]

    return (fields, tag("pre_tags", "<em>"), tag("post_tags", "</em>"),
            order)


def _highlight_terms(spec: QuerySpec, field: str) -> list[str]:
    """Every term the query can POSITIVELY match on ``field`` — must/
    should/filter text clauses and dis_max children, recursing through
    child bools and a boosting POSITIVE arm. must_not clauses and the
    boosting negative arm are excluded (they select *against* the
    term; ES's highlighter likewise ignores prohibited clauses). Call
    on a fuzzy/mlt-RESOLVED spec so expansions highlight too."""
    out: set = set()
    for c in spec.must + spec.should + spec.filter_text:
        if c.field == field:
            out |= set(_clause_terms(c))
    for dm in spec.must_dismax + spec.should_dismax:
        for c in dm.children:
            if c.field == field:
                out |= set(_clause_terms(c))
    for ch in spec.must_bool + spec.filter_bool + spec.should_bool:
        out |= set(_highlight_terms(ch, field))
    if spec.boosting is not None:
        out |= set(_highlight_terms(spec.boosting[0], field))
    if spec.fscore is not None:
        out |= set(_highlight_terms(spec.fscore.wrapped, field))
    return sorted(out)


def _fragment_highlight(pat: str, pre: str, post: str, nf: int,
                        fsize: int, order: str):
    """Arrow-batched fragmenting highlighter -> a pandas UDF producing
    ``array<string>`` of up to ``nf`` tagged fragments per row.

    Documented deviations from Lucene's unified highlighter (which
    scores sentence-bounded passages with per-term BM25 weights over
    index offsets): fragments break at WHITESPACE token boundaries,
    growing greedily to ``fragment_size`` chars (always at least one
    token); fragment score = the count of matched-term occurrences
    (ties broken by text position); selection keeps the ``nf``
    best-scoring fragments with at least one match, returned in text
    order (``order: "none"``) or score-desc (``order: "score"``).
    Deterministic, so the pytest replay pins it exactly.

    Scale: this runs on the top-k JOIN-BACK rows only (from+size rows,
    never the corpus), so per-row python inside the Arrow batch is
    bounded by the page size — the same budget class as the rescore
    window."""
    import re as _re2  # noqa: PLC0415

    rx = _re2.compile(pat[4:] if pat.startswith("(?i)") else pat,
                      _re2.IGNORECASE)
    tok_rx = _re2.compile(r"\S+")

    def frag_one(text):
        if text is None:
            return None
        spans = [(m.start(), m.end()) for m in tok_rx.finditer(text)]
        if not spans:
            return None
        frags = []  # (start, end)
        i = 0
        while i < len(spans):
            start = spans[i][0]
            end = spans[i][1]
            j = i + 1
            while j < len(spans) and spans[j][1] - start <= fsize:
                end = spans[j][1]
                j += 1
            frags.append((start, end))
            i = j
        scored = []
        for pos, (s0, e0) in enumerate(frags):
            chunk = text[s0:e0]
            n = len(rx.findall(chunk))
            if n > 0:
                scored.append((-n, pos, chunk))
        if not scored:
            return None
        scored.sort()
        top = scored[:nf]
        if order == "none":
            top.sort(key=lambda x: x[1])
        # a callable replacement keeps user-supplied tags LITERAL —
        # a template would interpret backslashes/\1 inside the tags
        return [rx.sub(lambda m: pre + m.group(0) + post, c)
                for _, _, c in top]

    @F.pandas_udf("array<string>")
    def udf(s: pd.Series) -> pd.Series:
        return s.map(frag_one)

    return udf


def _apply_highlight(hits: DataFrame, docs_df: DataFrame,
                     spec: QuerySpec, hl) -> DataFrame:
    """Join the hit set back to the corpus rows and tag matched terms —
    one broadcast-sized join (the hits frame is top-k rows), then
    codegen regexp_replace (whole-field mode) or the Arrow fragmenter
    (``number_of_fragments`` > 0); the corpus is touched only for the
    joined rows' columns. Fields with no matched term carry NULL (ES
    omits the field from the highlight block)."""
    fields, pre, post, order = hl
    missing = [f for f, _, _ in fields if f not in docs_df.columns]
    if missing:
        raise DslError(f"highlight fields {missing} are not columns")
    out = hits.join(
        docs_df.select("doc_id", *[f for f, _, _ in fields]),
        "doc_id", "left")
    for fld, nf, fsize in fields:
        terms = _highlight_terms(spec, fld)
        col = F.col(fld)
        if not terms:
            expr = F.lit(None).cast(
                "string" if nf == 0 else "array<string>")
        elif nf == 0:
            # terms are analyzer output ([a-z0-9_]+) — regex-safe by
            # construction; (?i) + \b word bounds parse identically in
            # Java (Spark) and RE2 (the DuckDB oracle replay)
            pat = "(?i)\\b(" + "|".join(terms) + ")\\b"
            expr = F.when(
                col.rlike(pat),
                F.regexp_replace(col, pat, pre + "$1" + post))
        else:
            pat = "(?i)\\b(" + "|".join(terms) + ")\\b"
            expr = _fragment_highlight(pat, pre, post, nf, fsize,
                                       order)(col)
        out = out.withColumn(f"highlight_{fld}", expr)
    return (out.select("doc_id", "score",
                       *[f"highlight_{f}" for f, _, _ in fields])
            .orderBy(F.desc("score"), F.asc("doc_id")))


def _parse_rescore(request: dict):
    """ES ``rescore``: -> None or ``(window_size, rescore_query_raw,
    query_weight, rescore_query_weight, score_mode)``. window_size is
    None when absent (the caller defaults it to from+size, the ES
    rule). Multiple rescore stages and unknown options fail loud."""
    r = request.get("rescore")
    if r is None:
        return None
    if isinstance(r, list):
        raise DslError("multiple rescore stages are not supported")
    if not isinstance(r, dict):
        raise DslError(f"bad rescore body {r!r}")
    unknown = set(r) - {"window_size", "query"}
    if unknown:
        raise DslError(f"unsupported rescore options {sorted(unknown)}")
    if "query" not in r:
        raise DslError("rescore needs a query block")
    q = r["query"]
    if not isinstance(q, dict):
        raise DslError(f"bad rescore query block {q!r}")
    unknown = set(q) - {"rescore_query", "query_weight",
                        "rescore_query_weight", "score_mode"}
    if unknown:
        raise DslError(
            f"unsupported rescore query options {sorted(unknown)}")
    if "rescore_query" not in q:
        raise DslError("rescore needs rescore_query")
    window = r.get("window_size")
    if window is not None and (isinstance(window, bool)
                               or not isinstance(window, int)
                               or window < 0):
        raise DslError(
            f"window_size must be a non-negative int, got {window!r}")
    qw = q.get("query_weight", 1.0)
    rqw = q.get("rescore_query_weight", 1.0)
    for v in (qw, rqw):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise DslError(f"rescore weights must be numbers, got {v!r}")
    mode = q.get("score_mode", "total")
    if mode not in ("total", "multiply", "avg", "max", "min"):
        raise DslError(f"unsupported rescore score_mode {mode!r}")
    return (window, q["rescore_query"], float(qw), float(rqw), mode)


def _apply_rescore(base: DataFrame, rs: DataFrame | None, window: int,
                   qw: float, rqw: float, mode: str, size: int,
                   frm: int) -> DataFrame:
    """Combine a base top-k frame ``(doc_id, score)`` with a rescore
    score frame ``(doc_id, __rs)``: the top ``window`` base hits
    re-sort by the combined score (Lucene QueryRescorer rule — a doc
    the rescore query does not match keeps ``query_weight * base``);
    hits beyond the window keep their ORIGINAL score and always rank
    below the rescored window, exactly as in ES. The base frame is
    already top-k-sized, so the rank window and the rescore join are
    k-row operations, never corpus-sized."""
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = base.select("doc_id", "score",
                         F.row_number().over(w).alias("__rk"))
    if rs is not None:
        ranked = ranked.join(rs, "doc_id", "left")
    else:
        ranked = ranked.withColumn("__rs", F.lit(None).cast("double"))
    b = F.col("score") * F.lit(qw)
    r = F.col("__rs") * F.lit(rqw)
    comb = {"total": b + r, "multiply": b * r,
            "avg": (b + r) / F.lit(2.0),
            "max": F.greatest(b, r), "min": F.least(b, r)}[mode]
    comb = F.when(F.col("__rs").isNotNull(), comb).otherwise(b)
    in_w = F.col("__rk") <= F.lit(window)
    out = ranked.select(
        "doc_id",
        F.when(in_w, comb).otherwise(F.col("score")).alias("score"),
        F.when(in_w, F.lit(0)).otherwise(F.lit(1)).alias("__tier"))
    out = (out.orderBy(F.asc("__tier"), F.desc("score"),
                       F.asc("doc_id"))
           .limit(frm + size).select("doc_id", "score"))
    return out.offset(frm) if frm else out
_REQUEST_NOOP_KEYS = {"track_total_hits"}


def _parse_collapse(request: dict) -> str | None:
    """ES ``collapse``: ``{"field": f}`` -> the collapse field, or None.
    ``inner_hits``/``max_concurrent_group_searches`` stay out-of-grammar
    (they shape a response payload the engine doesn't emit)."""
    c = request.get("collapse")
    if c is None:
        return None
    if not isinstance(c, dict) or "field" not in c:
        raise DslError("collapse needs {'field': <name>}")
    unknown = set(c) - {"field"}
    if unknown:
        raise DslError(f"unsupported collapse options {sorted(unknown)}")
    return _ident(c["field"])


def _apply_collapse(frame: DataFrame, field: str, score_col: str,
                    sort) -> DataFrame:
    """Keep the TOP hit per collapse-key according to the request sort
    (default: _score desc), doc_id-ascending tiebreak — the ES field
    collapse rule. NULL keys collapse into one group (ES expects a
    single-valued keyword/numeric field; the engine's documented NULL
    rule). One window shuffle keyed by the collapse field — at 10^12
    turns that is the same shape as the engine's keep-first dedup."""
    if sort is None:
        order = [F.col(score_col).desc(), F.col("doc_id").asc()]
    else:
        order = []
        for fld, asc in _parse_sort(sort):
            col = (F.col(score_col) if fld == "_score"
                   else F.col(_ident(fld)))
            order.append(col.asc_nulls_last() if asc
                         else col.desc_nulls_last())
        order.append(F.col("doc_id").asc())
    w = Window.partitionBy(F.col(field)).orderBy(*order)
    return (frame.withColumn("__cr", F.row_number().over(w))
            .where(F.col("__cr") == 1).drop("__cr"))


def _parse_sort(sort) -> list[tuple[str, bool]]:
    """ES ``sort`` -> [(field | "_score", ascending?)]. Accepts the
    string shorthand and the ``{field: "asc"|"desc"}`` /
    ``{field: {"order": ...}}`` forms; ES defaults: fields ascending,
    ``_score`` descending."""
    out = []
    for s in _as_list(sort):
        if isinstance(s, str):
            fld, d = s, ("desc" if s == "_score" else "asc")
        elif isinstance(s, dict) and len(s) == 1:
            (fld, d), = s.items()
            if isinstance(d, dict):
                unknown = set(d) - {"order"}
                if unknown:
                    raise DslError(
                        f"unsupported sort options {sorted(unknown)}")
                d = d.get("order", "desc" if fld == "_score" else "asc")
        else:
            raise DslError(f"bad sort entry {s!r}")
        if d not in ("asc", "desc"):
            raise DslError(f"sort order must be asc or desc, got {d!r}")
        if fld != "_score":
            _ident(fld)
        out.append((fld, d == "asc"))
    if not out:
        raise DslError("sort must name at least one key")
    return out


def _sorted_hits(frame: DataFrame, score_col: str, sort,
                 size: int, frm: int) -> DataFrame:
    """Order a qualifying-set frame by a parsed ES ``sort`` ->
    ``(doc_id, score)`` page. ES leaves ties in index order; the engine
    appends a doc_id-ascending tiebreak so pages are deterministic
    (documented deviation). Docs MISSING a sort field go last in either
    direction — the ES ``missing: "_last"`` default (Spark's bare
    ``asc()`` would put NULLs first)."""
    order = []
    for fld, asc in _parse_sort(sort):
        col = F.col(score_col) if fld == "_score" else F.col(_ident(fld))
        order.append(col.asc_nulls_last() if asc
                     else col.desc_nulls_last())
    order.append(F.col("doc_id").asc())
    out = (frame.orderBy(*order)
           .select("doc_id", F.col(score_col).alias("score"))
           .limit(frm + size))
    return out.offset(frm) if frm else out


# ---- ES 8 kNN search (round 5, resumed closing) ----------------------

_KNN_KEYS = {"field", "query_vector", "k", "num_candidates", "filter",
             "boost", "metric", "similarity"}
_KNN_METRICS = ("cosine", "dot_product", "l2_norm")


@dataclass(frozen=True)
class KnnSpec:
    """Parsed ``_search`` ``knn`` section (ES 8 dense-vector search).
    ``metric`` stands in for the dense_vector MAPPING's similarity —
    this engine keeps no mappings, so the body carries it (default
    ``cosine``, the ES mapping default). ``similarity`` keeps its ES
    meaning: the minimum RAW similarity a hit must clear (cut applied
    before the score transform and before ``boost``)."""

    field: str
    qvec: tuple  # float literals
    k: int
    metric: str
    boost: float
    min_sim: float | None
    filter: "QuerySpec | None"


def _parse_knn(body: dict) -> KnnSpec:
    """ES 8 ``knn`` body -> :class:`KnnSpec`. ``num_candidates`` is the
    HNSW recall knob — validated (int >= k) then a documented safe
    no-op: this engine's kNN is EXACT brute force (a deviation in the
    user's favor; the ANN scale paths are the LSH/IVF/IVF-PQ operators,
    operators/similarity.py). ``filter`` is the ES pre-filter:
    qualification only, evaluated BEFORE the top-k cut so the k hits
    all satisfy it (ES semantics, unlike post-filtering)."""
    if not isinstance(body, dict):
        raise DslError(f"bad knn body {body!r}")
    unknown = set(body) - _KNN_KEYS
    if unknown:
        raise DslError(f"unsupported knn options {sorted(unknown)}")
    if "field" not in body or "query_vector" not in body \
            or "k" not in body:
        raise DslError("knn needs field, query_vector and k")
    fld = _ident(body["field"])
    qv = body["query_vector"]
    if not isinstance(qv, (list, tuple)) or not qv \
            or not all(isinstance(x, (int, float))
                       and not isinstance(x, bool) for x in qv):
        raise DslError("query_vector must be a non-empty number list")
    k = body["k"]
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise DslError(f"k must be an int >= 1, got {k!r}")
    nc = body.get("num_candidates", k)
    if isinstance(nc, bool) or not isinstance(nc, int) or nc < k:
        raise DslError(
            f"num_candidates must be an int >= k, got {nc!r}")
    metric = body.get("metric", "cosine")
    if metric not in _KNN_METRICS:
        raise DslError(
            f"metric must be one of {_KNN_METRICS}, got {metric!r}")
    boost = body.get("boost", 1.0)
    if isinstance(boost, bool) or not isinstance(boost, (int, float)) \
            or boost <= 0:
        raise DslError(f"knn boost must be > 0, got {boost!r}")
    min_sim = body.get("similarity")
    if min_sim is not None:
        if isinstance(min_sim, bool) \
                or not isinstance(min_sim, (int, float)):
            raise DslError(
                f"similarity must be a number, got {min_sim!r}")
        if metric == "l2_norm":
            # ES defines the l2 cut on distance, not similarity —
            # honoring it under a similarity name would invert the
            # inequality unseen
            raise DslError("similarity cuts apply to cosine/"
                           "dot_product only")
    filt = body.get("filter")
    fspec = None
    if filt is not None:
        fspec = parse_query({"bool": {"filter": _as_list(filt)}})
    return KnnSpec(field=fld, qvec=tuple(float(x) for x in qv), k=int(k),
                   metric=metric, boost=float(boost),
                   min_sim=None if min_sim is None else float(min_sim),
                   filter=fspec)


def _knn_hits(docs_df: DataFrame, knn: KnnSpec) -> DataFrame:
    """The vector side: exact top-k -> (doc_id, __knn_score). ONE scan,
    all-Catalyst arithmetic (zip_with + aggregate — no UDF), one
    TakeOrderedAndProject; the filter qualifies BEFORE the cut. Docs
    with a NULL vector never match (the ES missing-field rule); a
    WRONG-DIMENSION vector raises at run time (ES rejects it at index
    time — an engine without mappings can only catch it here, and a
    silent zip_with NULL would drop the doc unseen). Scores are the ES
    dense-vector transforms: cosine/dot (1+raw)/2, l2 1/(1+d^2)."""
    frame = docs_df
    if knn.filter is not None:
        # filter context: qualification only, the BM25 params never score
        mf = _matched_frame(docs_df, knn.filter, BM25Params())
        if mf is None:
            return docs_df.sparkSession.createDataFrame(
                [], "doc_id long, __knn_score double")
        frame = mf[0]
    vec = F.col(knn.field)
    dim = len(knn.qvec)
    qa = F.array(*[F.lit(x) for x in knn.qvec])
    dim_err = F.expr("cast(raise_error('knn: wrong-dimension vector') "
                     "as double)")

    def guarded(expr):
        return F.when(F.size(vec) == F.lit(dim), expr).otherwise(dim_err)

    dot = F.aggregate(
        F.zip_with(vec, qa, lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda a, x: a + x)
    if knn.metric == "l2_norm":
        d2 = F.aggregate(
            F.zip_with(vec, qa, lambda x, y:
                       (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0), lambda a, x: a + x)
        raw = guarded(d2)
        score = F.lit(1.0) / (F.lit(1.0) + raw)
    else:
        if knn.metric == "cosine":
            qn = math.sqrt(sum(x * x for x in knn.qvec)) or 1e-12
            vnorm = F.sqrt(F.aggregate(
                vec, F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double")))
            raw = guarded(dot / (vnorm * F.lit(qn) + F.lit(1e-12)))
        else:
            raw = guarded(dot)
        score = (F.lit(1.0) + raw) / F.lit(2.0)
    frame = frame.where(vec.isNotNull())
    if knn.min_sim is not None:
        frame = frame.where(raw >= F.lit(knn.min_sim))
    return (frame
            .select("doc_id",
                    (score * F.lit(knn.boost)).alias("__knn_score"))
            .orderBy(F.desc("__knn_score"), F.asc("doc_id"))
            .limit(knn.k))


def _collect_knn_hits(khits: DataFrame):
    """Materialize the vector side ONCE -> (k-row local DataFrame,
    [doc_id...]). The collect is bounded by the user's ``k`` (the
    IVF/PQ candidate-list precedent, operators/similarity.py) and the
    ids are needed driver-side anyway: the query side must score
    exactly these docs through an ``ids`` filter, whatever their pure
    BM25 rank."""
    rows = [(int(r["doc_id"]), float(r["__knn_score"]))
            for r in khits.collect()]
    local = khits.sparkSession.createDataFrame(
        rows, "doc_id long, __knn_score double")
    return local, [d for d, _ in rows]


def _merge_knn_hits(khits: DataFrame, qs: DataFrame | None,
                    size: int, frm: int) -> DataFrame:
    """ES hybrid merge: a doc's final score = query score + knn score,
    each side contributing 0 where the doc is absent. ``qs`` carries
    query scores for (a) the query-side top ``frm + size + k`` — a
    non-knn doc in the merged top-(frm+size) outranks all but
    < frm+size docs, of which at most k carry any vector contribution,
    so its pure-query rank is within frm+size+k — and (b) the k knn
    docs themselves (via an ids filter), whose query scores ES adds
    REGARDLESS of their query rank. Both inputs are k/size-bounded, so
    the full-outer join never touches corpus-sized data."""
    if qs is None:
        out = khits.select(
            "doc_id", F.col("__knn_score").alias("score"))
    else:
        out = (qs.join(khits, "doc_id", "full_outer")
               .select("doc_id",
                       (F.coalesce(F.col("__q"), F.lit(0.0))
                        + F.coalesce(F.col("__knn_score"), F.lit(0.0))
                        ).alias("score")))
    out = (out.orderBy(F.desc("score"), F.asc("doc_id"))
           .limit(frm + size))
    return out.offset(frm) if frm else out


def _knn_combo_guard(request: dict, collapse, rescore, hl) -> None:
    if ("aggs" in request or request.get("sort") is not None
            or request.get("search_after") is not None
            or collapse is not None or rescore is not None
            or hl is not None):
        raise DslError(
            "knn combines with query/size/from only (aggs/sort/"
            "search_after/collapse/rescore/highlight on a hybrid "
            "ranking are not supported)")


def _knn_request(be, request: dict) -> DataFrame:
    """``_search`` with a ``knn`` section: the vector side is one exact
    scan + top-k over the backend's corpus rows; with a ``query`` the
    two sides merge by score sum over a k-row full-outer join (never
    corpus-sized)."""
    corpus = be.corpus("knn")
    knn = _parse_knn(request["knn"])
    size, frm = _page(request)
    khits, kids = _collect_knn_hits(_knn_hits(corpus, knn))
    q = be.qualify(request["query"]) if "query" in request else None
    qs = None
    if q is not None:
        qframe = q[0].select("doc_id", F.col("__dsl_score").alias("__q"))
        qtop = (qframe.orderBy(F.desc("__q"), F.asc("doc_id"))
                .limit(frm + size + knn.k))
        if kids:
            qtop = qtop.unionByName(
                qframe.where(F.col("doc_id").isin(kids)))
        qs = qtop.dropDuplicates(["doc_id"])
    return _merge_knn_hits(khits, qs, size, frm)


def _validate_request_keys(request: dict) -> None:
    unknown = set(request) - _REQUEST_KEYS - _REQUEST_NOOP_KEYS
    if unknown:
        raise DslError(
            f"unsupported _search options {sorted(unknown)} (honored: "
            f"{sorted(_REQUEST_KEYS)}; ignored metadata: "
            f"{sorted(_REQUEST_NOOP_KEYS)})")


def _page(request: dict) -> tuple[int, int]:
    """``(size, from)`` of a ``_search`` body (ES defaults 10 / 0)."""
    size = int(request.get("size", DEFAULT_SIZE))
    frm = int(request.get("from", 0))
    if size < 0 or frm < 0:
        raise DslError("size/from must be non-negative")
    return size, frm


# ---- the request layer -------------------------------------------------
#
# `_search`, aggs and scan are written once, against a backend. A
# backend answers: the top-k of a query (`topk`); its qualifying set as
# (frame of doc_id, __dsl_score [, fields], scored?) or None when
# provably empty (`qualify`); the qualifying rows plus the background
# set aggregations run over (`rows` — a provably-empty query yields the
# background's empty frame, so real column types survive: metrics go
# null, counts 0, buckets vanish, the ES behaviour); the rows holding
# page fields (`field_frame`) or raw corpus rows (`corpus`); and the
# fuzzy/mlt-resolved spec highlight tags (`resolved_spec`).


class _CorpusBackend:
    """The naive executor: every answer comes from the corpus frame —
    a qualifying set is one stats agg + one map-side pass over the rows
    (:func:`_matched_frame`), and every column rides along."""

    def __init__(self, docs_df: DataFrame, params: BM25Params | None):
        self.spark = docs_df.sparkSession
        self.docs_df = docs_df
        self.params = params or BM25Params()

    def topk(self, query: dict, k: int) -> DataFrame:
        return search_dsl(self.docs_df, query, k, self.params)

    def qualify(self, query: dict, fields: list[str] = ()):
        return _matched_frame(self.docs_df, parse_query(query),
                              self.params)

    def rows(self, query: dict, scored: bool = False, text: bool = False):
        q = self.qualify(query)
        frame = self.docs_df.where(F.lit(False)) if q is None else q[0]
        return frame, self.docs_df

    def corpus(self, what: str) -> DataFrame:
        return _keyed(self.docs_df)

    def field_frame(self, want: list[str]) -> DataFrame:
        return _keyed(self.docs_df)

    def resolved_spec(self, query: dict) -> QuerySpec:
        spec = parse_query(query)
        if spec.has_fuzzy():
            spec = _resolve_fuzzy(spec, _token_vocab_expander(self.docs_df))
        if spec.has_mlt():
            spec = _resolve_mlt(spec, _corpus_mlt_stats(self.docs_df))
        return spec


class _IndexBackend:
    """The indexed executor: qualifying sets resolve against posting
    blocks of a compressed index or segment list, fields read from the
    segments' ``doc_stats`` (every non-text input column — the ES
    doc-values analogue). ``docs_df`` is read only for what the index
    does not hold: raw text (highlight, significant_text, the text
    field as a page field), vectors (knn), and match_phrase adjacency
    when the segments lack the positions sidecar."""

    def __init__(self, spark: SparkSession, index_dir: str | list[str],
                 docs_df: DataFrame | None):
        self.spark = spark
        self.index_dir = index_dir
        self.docs_df = docs_df

    @cached_property
    def loaded(self):
        return _load_segments(self.spark, self.index_dir)

    @cached_property
    def stats(self) -> DataFrame:
        return _doc_stats_union(self.loaded[0])

    def topk(self, query: dict, k: int) -> DataFrame:
        return search_dsl_indexed(self.spark, self.index_dir, query, k,
                                  self.docs_df)

    def qualify(self, query: dict, fields: list[str] = ()):
        spec = parse_query(query)
        segs, n_docs, avgdl = self.loaded
        _validate_sql_fields(segs, spec)
        missing = [f for f in fields if f not in self.stats.columns]
        if missing:
            raise DslError(
                f"fields {missing} are not in doc_stats (the index "
                f"persists every non-text input column)")
        if n_docs == 0:
            return None
        anchor, scored = _qualify_indexed(segs, n_docs, avgdl, spec,
                                          self.docs_df)
        if anchor is None:
            return None
        frame = anchor.select("doc_id", F.col("score").alias("__dsl_score"))
        if fields:
            frame = frame.join(self.stats.select("doc_id", *fields),
                               "doc_id")
        return frame, scored

    def rows(self, query: dict, scored: bool = False, text: bool = False):
        base = self.corpus("significant_text") if text else self.stats
        q = self.qualify(query)
        if q is None:
            return base.where(F.lit(False)), base
        if scored:
            return base.join(q[0], "doc_id"), base
        return base.join(q[0].select("doc_id"), "doc_id", "left_semi"), base

    def corpus(self, what: str) -> DataFrame:
        if self.docs_df is None:
            raise DslError(
                f"{what} needs docs_df: the compressed index holds "
                f"postings and doc_stats, not the raw rows")
        return _keyed(self.docs_df)

    def field_frame(self, want: list[str]) -> DataFrame:
        missing = [f for f in want if f not in self.stats.columns]
        if missing and self.docs_df is None:
            raise DslError(
                f"_source/script_fields reference field(s) {missing} "
                f"not in doc_stats — pass docs_df for non-persisted "
                f"fields")
        return self.corpus("_source") if missing else self.stats

    def resolved_spec(self, query: dict) -> QuerySpec:
        segs, n_docs, _avgdl = self.loaded
        return _resolve_from_index(segs, n_docs, parse_query(query))


def _execute_request(be, request: dict) -> DataFrame:
    """The ``_search`` body over a backend (see :func:`execute_request`)."""
    if not isinstance(request, dict):
        raise DslError("request must be a dict")
    _validate_request_keys(request)
    collapse = _parse_collapse(request)
    rescore = _parse_rescore(request)
    hl = _parse_highlight(request)
    sort = request.get("sort")
    after = request.get("search_after")
    if hl is not None and (rescore is not None or collapse is not None
                           or sort is not None):
        raise DslError("highlight cannot be combined with sort/"
                       "collapse/rescore (the default ordering must be "
                       "restorable after the highlight join)")
    hl_docs = None if hl is None else be.corpus("highlight")
    sfs = _parse_script_fields(request)
    src = _parse_source(request)
    if (sfs is not None or src is not None) and (
            hl is not None or rescore is not None or collapse is not None
            or "knn" in request or "aggs" in request or sort is not None):
        raise DslError(
            "_source/script_fields are supported on the default-"
            "ordering and search_after paths only (the joined page "
            "must be re-orderable)")
    taken = {"doc_id", "score", *(src or [])}
    for name, _fn, _fields in sfs or []:
        if name in taken:
            # withColumn would silently overwrite the hit column
            raise DslError(
                f"script_fields name {name!r} collides with a hit or "
                f"_source/fields column")
    if "knn" in request:
        _knn_combo_guard(request, collapse, rescore, hl)
        return _knn_request(be, request)
    if "aggs" in request:
        if "sort" in request or "search_after" in request \
                or collapse is not None or rescore is not None \
                or hl is not None:
            raise DslError("aggs requests return buckets only; sort/"
                           "search_after/collapse/rescore/highlight "
                           "cannot be honored")
        return _aggregate(be, request)
    if collapse is not None and after is not None:
        raise DslError("collapse with search_after is not supported")
    size, frm = _page(request)
    query = request.get("query", {"match_all": {}})
    if rescore is not None:
        if sort is not None or collapse is not None or after is not None:
            raise DslError("rescore cannot be combined with sort/"
                           "collapse/search_after (ES rejects rescore "
                           "with sort; cursors/collapse would see two "
                           "different orderings)")
        window, rq, qw, rqw, mode = rescore
        if window is None:
            window = frm + size  # the ES default
        base = be.topk(query, max(window, frm + size))
        q = be.qualify(rq)
        rs = (None if q is None else
              q[0].select("doc_id", F.col("__dsl_score").alias("__rs")))
        return _apply_rescore(base, rs, window, qw, rqw, mode, size, frm)
    if sort is not None or collapse is not None:
        # ES custom sort / collapse over the whole qualifying set
        # (scores still computed, as ES does under track_scores)
        if after is not None:
            raise DslError(
                "search_after with a custom sort is not supported "
                "(cursors cover the default _score/doc_id sort)")
        keys = {f for f, _ in _parse_sort(sort)} if sort is not None \
            else set()
        if collapse is not None:
            keys.add(collapse)
        q = be.qualify(query, sorted(keys - {"_score", "doc_id"}))
        if q is None:
            return _no_hits(be.spark)
        frame = q[0]
        if collapse is not None:
            frame = _apply_collapse(frame, collapse, "__dsl_score", sort)
        return _sorted_hits(frame, "__dsl_score",
                            "_score" if sort is None else sort, size, frm)
    order = [F.desc("score"), F.asc("doc_id")]
    if after is not None:
        if frm:
            raise DslError(
                "search_after cannot be combined with from (ES rule)")
        q = be.qualify(query)
        if q is None:
            return _no_hits(be.spark)
        frame, scored = q
        if not scored:
            order = [F.asc("doc_id")]
        out = (frame.select("doc_id", F.col("__dsl_score").alias("score"))
               .where(_search_after_pred(scored, after))
               .orderBy(*order).limit(size))
    else:
        out = be.topk(query, frm + size)
        out = out.offset(frm) if frm else out
    if hl is not None:
        out = _apply_highlight(out, hl_docs, be.resolved_spec(query), hl)
    if sfs is not None or src is not None:
        out = _apply_fields(out, be, src, sfs, order)
    return out


def _aggregate(be, request: dict) -> DataFrame:
    """The ``aggs`` body over a backend (see :func:`dsl_aggregate`). The
    samplers cut by score, so only they ask for the score column;
    significant_text analyzes raw text, so it (alone or under a
    sampler/global bucket) asks for corpus rows."""
    agg_name, kind, body, sub, siblings = _parse_aggs_block(request)
    text = kind == "significant_text" or (
        kind in ("sampler", "diversified_sampler", "global")
        and any(isinstance(v, dict) and "significant_text" in v
                for v in sub.values()))
    frame, bg = be.rows(request.get("query", {"match_all": {}}),
                        scored=kind in ("sampler", "diversified_sampler"),
                        text=text)
    return _apply_agg(frame, agg_name, kind, body, sub, siblings,
                      bg_frame=bg)


def _scan(be, query: dict) -> DataFrame:
    """The full qualifying set in the backend's own row shape."""
    frame, rows = be.rows(query)
    return frame.select(*rows.columns)


def execute_request(
    docs_df: DataFrame,
    request: dict,
    params: BM25Params | None = None,
) -> DataFrame:
    """The ES ``_search`` endpoint shape, whole-request: honors
    ``{"query": ..., "size": n, "from": m}`` (ES defaults size=10,
    from=0), dispatches ``{"aggs": ...}`` requests to
    :func:`dsl_aggregate`, and takes ``"sort"`` (field keys asc by
    default, ``"_score"`` desc, ``{field: "asc"|"desc"}`` /
    ``{field: {"order": ...}}`` forms; a doc_id-ascending tiebreak is
    appended so pages are deterministic — documented deviation from
    ES's index-order ties). Pagination = one top-k of depth from+size,
    then an offset — the standard deep-paging trade (ES bounds it with
    index.max_result_window for the same reason; keep from shallow).
    ``search_after`` cursors cover the DEFAULT sort only.

    Round 5 adds ``collapse`` (top hit per field under the request
    sort), ``rescore`` (top-window re-sort by the combined score; see
    :func:`_parse_rescore`/:func:`_apply_rescore`) and ``highlight``
    (whole-field term tagging; see :func:`_parse_highlight`) —
    rescore/highlight stay on the default-ordering paths and fail loud
    when combined with sort/collapse/each other's conflicts.
    """
    return _execute_request(_CorpusBackend(docs_df, params), request)


def _search_after_pred(scored: bool, after):
    """ES ``search_after``: resume strictly past the last hit's sort
    key. Sort is (score desc, doc_id asc) for scored queries —
    ``after = [score, doc_id]`` — else (doc_id asc) — ``after =
    [doc_id]``. The score must be passed back VERBATIM (float64
    round-trip), as in ES where sort values are echoed exactly; this is
    the deep-paging shape that stays O(size) per page where ``from``
    pays O(from+size), and the predicate prunes before the top-k."""
    if scored:
        if not isinstance(after, (list, tuple)) or len(after) != 2:
            raise DslError("search_after for a scored query is "
                           "[score, doc_id]")
        s, d = float(after[0]), int(after[1])
        return (F.col("score") < F.lit(s)) | (
            (F.col("score") == F.lit(s)) & (F.col("doc_id") > F.lit(d)))
    if not isinstance(after, (list, tuple)) or len(after) != 1:
        raise DslError("search_after for an unscored query is [doc_id]")
    return F.col("doc_id") > F.lit(int(after[0]))


# --------------------------------------------------------------------------
# aggregations: the ES `aggs` block, pushed into the engine
# --------------------------------------------------------------------------

_CALENDAR_INTERVALS = {"hour", "day", "week", "month", "quarter", "year"}


def _pos_int(body: dict, key: str, default, what: str, lo: int = 1) -> int:
    """An integer option ``>= lo`` of an aggregation body (``size``,
    ``min_doc_count``, ``shard_size``, ``lag``, ...), ``default`` when
    absent. Bools are not ints here (JSON ``true`` is no size)."""
    v = body.get(key, default)
    if isinstance(v, bool) or not isinstance(v, int) or v < lo:
        raise DslError(f"{what} {key} must be an int >= {lo}, got {v!r}")
    return v


def _fill_missing(kind: str, body: dict, col, allow_str: bool = False):
    """Apply the ES metric ``missing`` parameter: docs whose field is
    NULL take the substitute value instead of being ignored
    (``F.coalesce`` — one row expression, no extra scan). Numeric
    metrics require a NUMERIC substitute; ``value_count``/
    ``cardinality`` also accept a string (keyword fields). The same
    type-promotion happens in the DuckDB oracle's ``coalesce``, so the
    replay stays value-identical."""
    if "missing" not in body:
        return col
    mv = body["missing"]
    ok = (not isinstance(mv, bool) and isinstance(mv, (int, float))) \
        or (allow_str and isinstance(mv, str))
    if not ok:
        raise DslError(
            f"{kind} missing must be a "
            f"{'scalar' if allow_str else 'number'}, got {mv!r}")
    return F.coalesce(col, F.lit(mv))


def _metric_col(kind: str, body, allow_str: bool = False, opts=(),
                script: bool = True):
    """Validate a metric body -> its (possibly ``missing``-filled) value
    column. Takes exactly one of ``field`` or — where ``script`` —
    ``script`` (round 5: the painless-subset compiler turns a script
    source into ONE Catalyst column — :func:`_agg_script_col`).
    ``opts`` are the kind's own options; other unknown options FAIL — a
    silently-ignored knob would return different numbers than the
    user's ES cluster (the same rule clause bodies and _search requests
    already enforce). ``missing`` applies to field metrics only (a
    script reads doc values itself; ES ignores missing on script
    metrics — here that combination fails loud instead)."""
    srcs = ("field", "script") if script else ("field",)
    if not isinstance(body, dict) or sum(s in body for s in srcs) != 1:
        need = "exactly one of field/script" if script else "a field"
        raise DslError(f"{kind} metric needs {need}, got {body!r}")
    if script and "script" in body:
        unknown = set(body) - {"script"}
        if unknown:
            raise DslError(
                f"unsupported {kind} script-metric options "
                f"{sorted(unknown)}")
        return _agg_script_col(f"{kind} metric", body["script"])
    unknown = set(body) - {"field", "missing", *opts}
    if unknown:
        raise DslError(
            f"unsupported {kind} metric options {sorted(unknown)}")
    return _fill_missing(kind, body, F.col(_ident(body["field"])),
                         allow_str=allow_str)


def _agg_script_col(ctx: str, sc):
    """Aggregation ``script`` source -> ONE Catalyst column through the
    shared painless-subset compiler (:func:`_compile_score_script`:
    ``doc['f'].value``, ``params.*`` resolved to literals, arithmetic,
    the Math.* portable set — anything else fails loud at parse).
    ``_score`` has no meaning in the aggregation context (ES
    aggregations run over the qualifying set, not scored hits) and
    fails loud."""
    source, params = _painless_script(sc, ctx)
    if isinstance(source, str) and _SCORE_IDENT.search(source):
        raise DslError(
            f"{ctx}: _score is not available in the aggregation "
            f"context")
    fn, _fields = _compile_score_script(source, params)
    return fn(lambda f: F.col(f), None)


# Every metric kind's columns are built by ONE function of the
# `_METRICS` table below: cols(kind, name, body, value) -> its named
# output columns [(out_name, expr)]. With `value` None the function
# reads the metric body; otherwise `value` is its input — the bucket
# column of the `<kind>_bucket` sibling form, or what the kind's `prep`
# step attached to the frame. Multi-column kinds FLATTEN to
# `<name>_<part>` columns (ES nests them under the agg name; a
# DataFrame result flattens, the same rule as nested buckets).

def _one(fn, allow_str: bool = False):
    """A one-column metric: ``fn`` over the value column, named after
    the aggregation."""
    def cols(kind, name, body, value):
        f = value if value is not None else _metric_col(kind, body,
                                                        allow_str)
        return [(name, fn(f))]
    return cols


def _stat_set(stats, cast: str | None = None, script: bool = True):
    """A flattened family of ``(stat, fn)`` aggregates over one value
    column -> ``<name>_<stat>`` columns. ``cast`` applies to the
    metric form's field (the sibling form keeps the bucket column's
    type: ``extended_stats_bucket`` over doc counts stays bigint)."""
    def cols(kind, name, body, value):
        f = value
        if f is None:
            f = _metric_col(kind, body, script=script)
            f = f if cast is None else f.cast(cast)
        return [(f"{name}_{s}", fn(f)) for s, fn in stats]
    return cols


# ES `stats` (count/min/max/avg/sum in one pass); `extended_stats` adds
# sum_of_squares / POPULATION variance / std_deviation (the ES
# definitions — `sigma` and the std_deviation_bounds block are derivable
# client-side from these columns and stay out of grammar: a silently-
# ignored sigma is the usual divergence trap)
_STATS = (("count", F.count), ("min", F.min), ("max", F.max),
          ("avg", F.avg), ("sum", F.sum))
_EXT_STATS = _STATS + (("sum_of_squares", lambda f: F.sum(f * f)),
                       ("variance", F.var_pop),
                       ("std_deviation", F.stddev_pop))
# ES `boxplot`: EXACT interpolated min/q1/q2/q3/max (ES computes TDigest
# approximations — the documented percentiles deviation). The
# `lower`/`upper` whisker fields need a second pass keyed by q1/q3 and
# stay out of grammar (the option allowlist fails loud)
_BOXPLOT = tuple((s, lambda f, q=q: F.percentile(f, F.lit(q)))
                 for s, q in (("min", 0.0), ("q1", 0.25), ("q2", 0.5),
                              ("q3", 0.75), ("max", 1.0)))
# the ES default percents list (percentiles agg docs)
_DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)


def _pct_label(p: float) -> str:
    return ("%g" % p).replace(".", "_")


def _percentile_cols(kind, name, body, value):
    """ES ``percentiles`` -> ``<name>_p<pct>`` columns (97.5 ->
    ``_p97_5``). ES computes TDigest APPROXIMATIONS; the engine computes
    EXACT linear-interpolated percentiles (Catalyst ``percentile``) —
    the same exactness deviation as ``cardinality``, and what the
    DuckDB oracle (``quantile_cont``) can check. ``percentiles_bucket``
    is the same interpolation at rank p/100*(n-1) over the bucket
    values, which is what ES computes there too."""
    f = value if value is not None else _metric_col(
        kind, body, opts=("percents",), script=False)
    ps = body.get("percents", list(_DEFAULT_PERCENTS))
    if not isinstance(ps, list) or not ps or any(
            isinstance(p, bool) or not isinstance(p, (int, float))
            or not 0 < p < 100 for p in ps):
        raise DslError(
            f"percents must be numbers strictly between 0 and 100, "
            f"got {ps!r}")
    return [(f"{name}_p{_pct_label(float(p))}",
             F.percentile(f, F.lit(p / 100.0))) for p in ps]


def _percentile_rank_cols(kind, name, body, value):
    """ES ``percentile_ranks`` -> ``<name>_<value>`` columns (value 97.5
    -> ``_97_5``, negatives -> ``_m<...>``), one per requested value.
    ES interpolates TDigest ranks; the engine computes the EXACT
    percentage of non-null field values <= v — the same exactness
    deviation as ``percentiles``/``cardinality``, and what the DuckDB
    oracle (``100 * avg(CASE ...)``) replays. NULL when the bucket has
    no non-null values (ES: null)."""
    f = _metric_col(kind, body, opts=("values",), script=False)
    vals = body.get("values")
    if not isinstance(vals, list) or not vals or any(
            isinstance(v, bool) or not isinstance(v, (int, float))
            for v in vals):
        raise DslError(
            f"percentile_ranks needs a non-empty numeric values list, "
            f"got {vals!r}")
    return [(f"{name}_{_pct_label(float(v)).replace('-', 'm')}",
             F.avg(F.when(f <= float(v), 1.0)
                   .when(f.isNotNull(), 0.0)) * 100) for v in vals]


def _weighted_avg_cols(kind, name, body, value):
    """ES ``weighted_avg``: ``sum(value * weight) / sum(weight)``.
    Docs where value OR weight is NULL contribute nothing (the ES
    no-``missing`` default; the ``missing`` fills stay out of
    grammar)."""
    if not isinstance(body, dict) or set(body) != {"value", "weight"}:
        raise DslError(
            f"weighted_avg needs exactly value and weight blocks, "
            f"got {body!r}")
    cols = {}
    for part in ("value", "weight"):
        b = body[part]
        if not isinstance(b, dict) or set(b) != {"field"}:
            raise DslError(
                f"weighted_avg {part} must be {{'field': f}}, got {b!r}")
        cols[part] = F.col(_ident(b["field"])).cast("double")
    v, w = cols["value"], cols["weight"]
    both = v.isNotNull() & w.isNotNull()
    return [(name, F.sum(F.when(both, v * w)) / F.sum(F.when(both, w)))]


def _top_metrics_cols(kind, name, body, value):
    """ES ``top_metrics`` — the metric values of the SINGLE top
    document by sort, FLATTENED to ``<name>_<field>`` columns (the
    same flattening rule as ``stats``). Only ``size: 1`` (the ES
    default) is in grammar — larger sizes return per-bucket arrays,
    a response shape with no flat-column analogue. Implemented as ONE
    max/min over a ``struct(sort, metric...)`` — the struct's
    lexicographic ordering makes every output column come from the
    SAME winning document, and sort ties break on the metric values
    themselves (deterministic, where ES breaks ties by shard doc
    order — a documented deviation in the user's favor: reruns are
    stable). Docs with a NULL sort value never compete (ES); a NULL
    metric on the winning doc surfaces as NULL."""
    if not isinstance(body, dict):
        raise DslError(f"bad top_metrics body {body!r}")
    unknown = set(body) - {"metrics", "sort", "size"}
    if unknown:
        raise DslError(f"unsupported top_metrics options {sorted(unknown)}")
    if "metrics" not in body or "sort" not in body:
        raise DslError(
            f"top_metrics needs metrics and sort blocks, got {body!r}")
    size = body.get("size", 1)
    if isinstance(size, bool) or size != 1:
        raise DslError(
            f"top_metrics supports size 1 only (the ES default; "
            f"larger sizes return arrays), got {size!r}")
    ms = body["metrics"]
    if isinstance(ms, dict):
        ms = [ms]
    if (not isinstance(ms, list) or not ms
            or any(not isinstance(m, dict) or set(m) != {"field"}
                   or not isinstance(m.get("field"), str) for m in ms)):
        raise DslError(
            f"top_metrics metrics must be {{'field': f}} blocks, "
            f"got {body['metrics']!r}")
    fields = [m["field"] for m in ms]
    if len(set(fields)) != len(fields):
        raise DslError(f"duplicate top_metrics fields {fields!r}")
    sort = body["sort"]
    if isinstance(sort, str):
        sort = {sort: "asc"}  # the ES bare-string form
    if (not isinstance(sort, dict) or len(sort) != 1
            or next(iter(sort.values())) not in ("asc", "desc")):
        raise DslError(
            f"top_metrics sort must be one {{field: 'asc'|'desc'}}, "
            f"got {body['sort']!r}")
    (sf, sdir), = sort.items()
    if sf.startswith("_"):
        raise DslError(
            f"top_metrics sorts on a document field, got {sf!r}")
    s = F.col(_ident(sf))
    w = F.when(s.isNotNull(), F.struct(
        s.alias("s"),
        *[F.col(_ident(f)).alias(f"m{i}") for i, f in enumerate(fields)]))
    # identical aggregate expressions collapse to one physical buffer
    top = F.max(w) if sdir == "desc" else F.min(w)
    return [(f"{name}_{f}", top.getField(f"m{i}"))
            for i, f in enumerate(fields)]


def _mad_prep(frame: DataFrame, pkey, col: str, kind: str, body):
    """``median_absolute_deviation`` prep: attach the median of the
    value column as ``col`` — per bucket as a window aggregate
    (``percentile(0.5) OVER (PARTITION BY pkey)``, co-partitioned with
    the groupBy that follows, so Catalyst plans ONE exchange for both),
    or for a bare metric (``pkey`` None) as a single-row aggregate
    through a broadcast cross-join (only the 1-row median crosses
    stages, never the data) -> (frame, (value, median))."""
    f = _metric_col(kind, body).cast("double")
    med = F.percentile(f, F.lit(0.5))
    if pkey is None:
        frame = frame.crossJoin(F.broadcast(frame.agg(med.alias(col))))
    else:
        frame = frame.withColumn(col, med.over(Window.partitionBy(pkey)))
    return frame, (f, F.col(col))


def _mad_cols(kind, name, body, value):
    """MAD = the EXACT median of |x - median| (ES is TDigest-approximate
    — the documented percentiles/cardinality deviation), over what
    :func:`_mad_prep` attached."""
    if value is None:
        raise DslError(
            "median_absolute_deviation needs a per-bucket median "
            "prepass and is supported bare or under a single-level "
            "bucket aggregation only")
    f, med = value
    return [(name, F.percentile(F.abs(f - med), F.lit(0.5)))]


def _apply_string_stats(frame: DataFrame, name: str,
                        body: dict) -> DataFrame:
    """ES ``string_stats`` (bare): count / min_length / max_length /
    avg_length / entropy, flattened to ``<name>_<stat>`` columns.
    Entropy is the Shannon base-2 entropy of the CHARACTER distribution
    across all non-null values (the ES definition), computed
    distributively: one char-explode -> char-count aggregation (an
    alphabet-sized frame, never the corpus) folded through
    ``-(1/N)*sum(n*log2 n) + log2 N``; a corpus with no characters
    entropy-0s like ES. Lengths are measured in characters (ES counts
    Java UTF-16 code units — identical on ASCII/BMP text, the engine's
    analyzer domain). ``show_distribution`` (response-shape) stays out
    of grammar."""
    f = _metric_col("string_stats", body, allow_str=True, script=False)
    vals = (frame.select(f.alias("__s"))
            .where(F.col("__s").isNotNull()))
    stats = vals.agg(
        F.count("__s").alias(f"{name}_count"),
        F.min(F.length("__s")).alias(f"{name}_min_length"),
        F.max(F.length("__s")).alias(f"{name}_max_length"),
        F.avg(F.length("__s")).alias(f"{name}_avg_length"))
    chars = (vals.select(F.explode(F.split("__s", "")).alias("__c"))
             .groupBy("__c").agg(F.count(F.lit(1)).alias("__n")))
    ent = chars.agg(F.coalesce(
        -F.sum(F.col("__n") * F.log2("__n")) / F.sum("__n")
        + F.log2(F.sum("__n")),
        F.lit(0.0)).alias(f"{name}_entropy"))
    return stats.crossJoin(F.broadcast(ent))


def _apply_matrix_stats(frame: DataFrame, name: str,
                        body) -> DataFrame:
    """ES ``matrix_stats`` (the matrix aggregations module): per-field
    count/mean/variance/skewness/kurtosis plus pairwise covariance and
    correlation over numeric fields. Output is FLATTENED to one row per
    ordered (field, other) pair — per-field stats describe ``field``,
    covariance/correlation describe the pair (the diagonal carries
    variance and correlation 1) — key-sorted by (field, other).

    Semantics pinned to the documented ES rules:

    - a document missing ANY of the fields is EXCLUDED from the whole
      matrix unless ``missing`` supplies that field's substitute
      (``{"missing": {field: value}}``);
    - variance and covariance are SAMPLE (n-1) estimates, correlation
      their ratio (ES RunningStats); n <= 1 renders them NULL;
    - a CONSTANT field (min == max, detected exactly — the raw-moment
      difference E[x²]−E[x]² cancels to ulp noise, not 0, for
      non-integer constants) has variance and covariances 0,
      skewness/kurtosis 0 and a NULL correlation (0/0);
    - skewness = m3 / m2^1.5 and kurtosis = m4 / m2^2 (Pearson, not
      excess) over POPULATION central moments, computed closed-form
      from raw moments — deterministic and replayable in plain SQL,
      where ES's streaming update order can drift in the last ulps
      (documented deviation family, like percentiles);
    - ``mode`` (multi-valued field handling) stays out of grammar:
      the engine's columns are scalars, so accepting it would imply
      array semantics that don't exist here.

    Plan shape: ONE aggregation row (Catalyst partial-aggregates
    map-side) exploded into k^2 pair rows — bucket-cardinality work,
    never a second scan; no shuffle beyond the single global agg."""
    if not isinstance(body, dict) or "fields" not in body:
        raise DslError(f"matrix_stats needs fields, got {body!r}")
    unknown = set(body) - {"fields", "missing"}
    if unknown:
        raise DslError(
            f"unsupported matrix_stats options {sorted(unknown)}")
    fields = body["fields"]
    if (not isinstance(fields, list) or not fields
            or not all(isinstance(f, str) for f in fields)
            or len(set(fields)) != len(fields)):
        raise DslError(
            f"matrix_stats fields must be a non-empty list of distinct "
            f"field names, got {fields!r}")
    fields = [_ident(f) for f in fields]
    miss = body.get("missing", {})
    if not isinstance(miss, dict) or not all(
            isinstance(k, str) and not isinstance(v, bool)
            and isinstance(v, (int, float)) for k, v in miss.items()):
        raise DslError(f"bad matrix_stats missing {miss!r}")
    extra = set(miss) - set(fields)
    if extra:
        raise DslError(
            f"matrix_stats missing names unknown fields {sorted(extra)}")
    for f in fields:
        if f not in frame.columns:
            raise DslError(f"matrix_stats field {f!r} is not available")
    vals = {
        f: (F.coalesce(F.col(f).cast("double"), F.lit(float(miss[f])))
            if f in miss else F.col(f).cast("double"))
        for f in fields
    }
    keep = reduce(lambda a, b: a & b,
                  [vals[f].isNotNull() for f in fields])
    kept = frame.where(keep)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        x = vals[f]
        aggs += [(F.min(x) == F.max(x)).alias(f"__const_{f}"),
                 F.avg(x).alias(f"__m1_{f}"),
                 F.avg(x * x).alias(f"__m2_{f}"),
                 F.avg(x * x * x).alias(f"__m3_{f}"),
                 F.avg(x * x * x * x).alias(f"__m4_{f}")]
    for i, fi in enumerate(fields):
        for fj in fields[i:]:
            aggs.append(F.avg(vals[fi] * vals[fj]).alias(f"__xy_{fi}_{fj}"))
    row = kept.agg(*aggs)

    n = F.col("__n").cast("double")

    def _central(f):
        m1, m2r = F.col(f"__m1_{f}"), F.col(f"__m2_{f}")
        m3r, m4r = F.col(f"__m3_{f}"), F.col(f"__m4_{f}")
        m2 = m2r - m1 * m1
        m3 = m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1
        m4 = (m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
              - 3 * m1 * m1 * m1 * m1)
        return m1, m2, m3, m4

    def _const(*fs):
        return reduce(lambda a, b: a | b,
                      [F.col(f"__const_{f}") for f in fs])

    def _cov(fi, fj):
        a, b = (fi, fj) if f"__xy_{fi}_{fj}" in row.columns else (fj, fi)
        exy = F.col(f"__xy_{a}_{b}")
        # sample covariance: n/(n-1) * (E[xy] - E[x]E[y]); exactly 0
        # against a constant field
        return F.when(n > 1, F.when(_const(fi, fj), F.lit(0.0)).otherwise(
            (exy - F.col(f"__m1_{fi}") * F.col(f"__m1_{fj}"))
            * n / (n - 1)))

    pairs = []
    for fi in fields:
        m1, m2, m3, m4 = _central(fi)
        for fj in fields:
            cov = _cov(fi, fj)
            var_j = _cov(fj, fj)
            corr = F.when(
                (n > 1) & ~_const(fi, fj),
                cov / F.sqrt(_cov(fi, fi) * var_j))
            pairs.append(F.struct(
                F.lit(fi).alias("field"),
                F.lit(fj).alias("other"),
                F.col("__n").alias("doc_count"),
                F.when(n > 0, m1).alias("mean"),
                _cov(fi, fi).alias("variance"),
                F.when(~_const(fi) & (m2 > 0), m3 / F.pow(m2, F.lit(1.5)))
                .otherwise(F.when(n > 0, F.lit(0.0))).alias("skewness"),
                F.when(~_const(fi) & (m2 > 0), m4 / (m2 * m2))
                .otherwise(F.when(n > 0, F.lit(0.0))).alias("kurtosis"),
                cov.alias("covariance"),
                corr.alias("correlation"),
            ))
    return (row.select(F.explode(F.array(*pairs)).alias("__p"))
            .select("__p.field", "__p.other", "__p.doc_count", "__p.mean",
                    "__p.variance", "__p.skewness", "__p.kurtosis",
                    "__p.covariance", "__p.correlation")
            .orderBy("field", "other"))


@dataclass(frozen=True)
class _Metric:
    """One metric kind. ``cols`` builds its columns (see the note above
    :func:`_one`); a kind without ``cols`` is root-only and ``frame``
    computes its whole result instead. ``prep`` attaches what ``cols``
    needs from the frame first (see :func:`_prepare`). ``sibling`` lists
    the options of the ``<kind>_bucket`` sibling pipeline besides
    ``buckets_path``; ``None`` = the kind has no sibling form."""
    cols: Callable | None = None
    frame: Callable | None = None
    prep: Callable | None = None
    sibling: tuple | None = None

    @property
    def bucket(self) -> bool:
        """Whether the kind may sit under a bucket aggregation."""
        return self.cols is not None


# The metric kinds of the aggregation grammar — the ONE place each is
# defined, for bucket sub-aggs, bare root metrics, output names and the
# sibling `<kind>_bucket` pipelines.
_METRICS = {
    "avg": _Metric(_one(F.avg), sibling=()),
    "sum": _Metric(_one(F.sum), sibling=()),
    "min": _Metric(_one(F.min), sibling=()),
    "max": _Metric(_one(F.max), sibling=()),
    "value_count": _Metric(_one(F.count, allow_str=True)),
    # ES `cardinality` is HLL-APPROXIMATE (precision_threshold); the
    # engine computes the EXACT distinct count — a documented deviation
    # in the user's favor (Catalyst's partial-aggregated countDistinct
    # scales fine, and exactness is what the DuckDB oracle can check).
    # precision_threshold is accordingly rejected as an unknown option.
    "cardinality": _Metric(_one(F.countDistinct, allow_str=True)),
    "stats": _Metric(_stat_set(_STATS), sibling=()),
    "extended_stats": _Metric(_stat_set(_EXT_STATS, cast="double"),
                              sibling=()),
    "percentiles": _Metric(_percentile_cols, sibling=("percents",)),
    "percentile_ranks": _Metric(_percentile_rank_cols),
    "boxplot": _Metric(_stat_set(_BOXPLOT, cast="double", script=False)),
    "top_metrics": _Metric(_top_metrics_cols),
    "weighted_avg": _Metric(_weighted_avg_cols),
    "median_absolute_deviation": _Metric(_mad_cols, prep=_mad_prep),
    "string_stats": _Metric(frame=_apply_string_stats),
    "matrix_stats": _Metric(frame=_apply_matrix_stats),
}
# ES sibling pipeline aggregations: top-level aggs computed over the
# FINAL bucket list of the multi-bucket agg they sit next to (post
# min_doc_count / order / size — the buckets ES would return)
_SIBLING_KINDS = {f"{k}_bucket": k for k, m in _METRICS.items()
                  if m.sibling is not None}


def _claim(taken: set, names) -> None:
    """The output-name check of one aggregation level: bucket columns
    (``key``, ``doc_count``, ``sub_key``, ``sub_doc_count``), metric
    outputs, pipeline and sibling names all join ``taken``, and a
    repeat fails loud — never a duplicate or unresolvable column."""
    for n in names:
        if n in taken:
            raise DslError(
                f"aggregation output {n!r} collides with another "
                f"column of the same level")
        taken.add(n)


def _prepare(frame: DataFrame, pkey, spec: dict):
    """Run the ``prep`` step of every metric in ``spec`` that has one,
    per bucket of ``pkey`` (or over the whole frame when ``None``) ->
    (frame, ``{name: value}`` for :func:`_metric_cols`)."""
    prepared = {}
    for i, (name, s) in enumerate(spec.items()):
        m = (_METRICS.get(next(iter(s)))
             if isinstance(s, dict) and len(s) == 1 else None)
        if m is not None and m.prep is not None:
            (kind, body), = s.items()
            frame, prepared[name] = m.prep(frame, pkey, f"__prep_{i}",
                                           kind, body)
    return frame, prepared


def _metric_cols(spec: dict, taken: set, prepared: dict | None = None):
    """Metric sub-aggs ``{name: {kind: body}}`` -> (output names,
    aliased agg columns), each kind's columns from :data:`_METRICS`;
    the names join the level's ``taken`` set (:func:`_claim`)."""
    pairs = []
    for name, s in spec.items():
        if not isinstance(s, dict) or len(s) != 1:
            raise DslError(f"bad sub-aggregation {name!r}")
        (kind, body), = s.items()
        m = _METRICS.get(kind)
        if m is None or not m.bucket:
            raise DslError(
                f"sub-aggregation {kind!r} not supported (metrics only)")
        pairs += m.cols(kind, name, body, (prepared or {}).get(name))
    names = [n for n, _ in pairs]
    _claim(taken, names)
    return names, [e.alias(n) for n, e in pairs]


def dsl_aggregate(
    docs_df: DataFrame,
    request: dict,
    params: BM25Params | None = None,
) -> DataFrame:
    """Execute an ES search request WITH an ``aggs`` block -> the
    aggregation result as a DataFrame (the reference's report metrics —
    counts/rates by group over query results, jobsautoreport/report.py —
    pushed into the engine instead of computed client-side).

    ``request`` = ``{"query": <clause>, "aggs": {<name>: <agg>}}`` with
    exactly one top-level aggregation. Supported aggs:

    - ``{"terms": {"field": f, "size": n}}`` -> (key, doc_count [, sub
      metrics]); ES bucket order: doc_count desc, key asc; size
      defaults to 10. An explicit ``"order"`` takes the ES grammar —
      ``{"_count"|"_key"|<metric-name>|"<stats-name>.<stat>":
      "asc"|"desc"}`` — so "top N groups by cost" orders by the cost
      sub-agg, not the doc count; the size cut applies AFTER the
      ordering, exactly ES.
    - ``{"date_histogram": {"field": f, "calendar_interval": iv}}`` ->
      (key, doc_count [, sub metrics]) with key = date_trunc(iv, f),
      ascending (ES order); iv ∈ hour/day/week/month/quarter/year
      (week is ISO/Monday-based, matching ES). ``fixed_interval``
      (``"30m"``, ``"12h"``, ``"7d"`` — s/m/h/d units) buckets on exact
      epoch-anchored multiples instead, exactly one of the two.
    - a bare metric ``{<kind>: <body>}`` -> one row of the kind's
      columns; any kind of the metric table :data:`_METRICS` except the
      root-only ``string_stats`` / ``matrix_stats`` also works as a
      bucket sub-agg. One-column kinds (avg/sum/min/max/value_count/
      cardinality/weighted_avg/median_absolute_deviation) are named
      after the agg; the others flatten to ``<name>_<part>`` columns
      (``stats``, ``extended_stats``, ``percentiles`` -> ``_p<pct>``,
      ``percentile_ranks``, ``boxplot``, ``top_metrics`` ->
      ``_<field>``). Each kind's function in the table documents its
      grammar and its documented ES deviations (EXACT percentiles,
      cardinality and MAD where ES approximates). Field metrics take the
      ES ``missing`` parameter (NULL-field docs count as the substitute
      value — numeric required, except ``value_count``/``cardinality``/
      ``string_stats``, which also take a string). An output name that
      repeats at one level (a metric named ``key``, ``stats`` ``s`` next
      to ``s_min``, a repeated percent) fails loud.
    - ``{"histogram": {"field": f, "interval": n, "offset": o?}}`` ->
      (key, doc_count [, sub metrics]) with key =
      floor((v - o)/n)*n + o, ascending; ``min_doc_count``/``missing``
      on terms (>= 1 — terms cannot gap-fill), ``min_doc_count`` on
      histogram/date_histogram including ``0``: single-level
      histogram-family aggs GAP-FILL the empty buckets between the
      observed (or ``extended_bounds``-widened) min and max keys with
      doc_count 0 / NULL metrics, and sequence pipelines run over the
      filled sequence (see :func:`_gap_fill`; ``extended_bounds``
      requires min_doc_count 0, the ES rule). Docs missing a bucket
      field are dropped (ES), never a NULL bucket.
    - ``{"range": {"field": f, "ranges": [{"from": a, "to": b,
      "key": k?}, ...]}}`` -> (key, doc_count [, sub metrics]) in range
      definition order; from inclusive / to exclusive, open ends
      allowed, overlapping ranges fan a doc into EVERY matching bucket
      (ES multi-membership — map-side explode, no extra scan); default
      keys are the ES ``"100.0-200.0"`` / ``"*-100.0"`` form.
    - ``{"filters": {"filters": {name: metadata-clause | match_all,
      ...}, "other_bucket": bool, "other_bucket_key": str}}`` ->
      (key=name, doc_count [, sub metrics]) in definition order; one
      doc may land in several named buckets; ``other_bucket`` appends
      a bucket of the docs matching NO named filter.
    - ``{"date_range": {"field": f, "ranges": [{"from": <iso|date
      math>, "to": ...}]}}`` -> range buckets on a date field with
      compile-time date-math bounds; default keys render
      second-resolution ``"<from>-<to>"``.
    - ``{"adjacency_matrix": {"filters": {...}, "separator": "&"}}``
      -> one bucket per filter plus one per pairwise intersection
      (key "a&b"), key-sorted, non-empty only (the ES rule).
    - ``serial_diff`` joins the parent pipelines (lag-``n``
      difference; the first ``n`` buckets are NULL).
    - ``{"missing": {"field": f}}`` -> one row: the qualifying docs
      lacking the field (flattened to its doc_count; sub-aggs inside
      the missing bucket fail loud).
    - a bucket agg whose ONLY sub-agg is ``{"top_hits": {"size": n,
      "sort": [{field: dir}...], "_source": [cols]}}`` -> flattened
      (key, doc_count, hit_rank, _source...) rows — the per-bucket
      top-N documents (see :func:`_apply_top_hits`).
    - histogram-family buckets may carry PARENT PIPELINE sub-aggs:
      ``{"cumulative_sum"|"derivative"|"serial_diff"|"moving_fn":
      {"buckets_path": "_count" | <metric-name> |
      "<stats-name>.<stat>"}}`` -> an extra flattened column per
      pipeline (running sum / delta vs the previous bucket in key
      order; the first bucket's derivative is NULL — ES omits it).
      ``moving_fn`` additionally takes ``window``/``shift``/``script``
      — the five stock ``MovingFunctions`` scripts over the ES row
      frame [i-window+shift, i-1+shift] (see :func:`_parse_moving_fn`);
      painless lambdas beyond those stay out-of-grammar. ``normalize``
      takes ``method`` ∈ rescale_0_1 / rescale_0_100 / percent_of_sum
      / mean / z-score (population) / softmax — the per-bucket value
      rescaled by bucket-list statistics (zero denominators -> NULL,
      the ES non-finite rendering; ``format`` is a documented safe
      no-op). Terms parents fail loud (ES: pipelines need a bucket
      SEQUENCE); ``gap_policy`` etc. stay out-of-grammar.
    - any single-level bucket agg may carry ``bucket_script`` /
      ``bucket_selector`` pipelines (``{"buckets_path": {var: "_count"
      | metric | "stats-name.stat"}, "script": "params.x / params.y"}``)
      -> an extra double column per script / buckets where the boolean
      script is false dropped, both over the FINAL bucket list
      (post min_doc_count/order/size — ES runs pipelines on the
      reduced response). Script grammar is the painless arithmetic
      subset compiled to shared Spark-SQL∩DuckDB text (see
      :func:`_compile_bucket_script`); ``gap_policy`` fails loud.
    - a single-level ``terms``/``histogram``/``date_histogram`` agg
      may carry ONE ``bucket_sort`` pipeline (``{"sort": [{path:
      dir}...], "from": m, "size": n}``) re-sorting/truncating its
      final bucket list — sort targets take the pipeline path grammar
      (``_count``/``_key``/metric/``stats-name.stat``); multi-
      membership parents (range/filters/adjacency_matrix) stay out of
      grammar.
    - ``{"composite": {"sources": [...], "size": n, "after": {...}}}``
      -> paginated multi-source buckets, the scale path for
      high-cardinality bucket spaces (see :func:`_apply_composite`).
    - SIBLING pipelines next to the one bucket agg:
      ``{"avg_bucket"|"sum_bucket"|"min_bucket"|"max_bucket"|
      "stats_bucket"|"extended_stats_bucket"|"percentiles_bucket":
      {"buckets_path": "<bucket-agg>><metric>"[, "percents": [...]]}}``
      -> ``<kind>_bucket`` is metric ``<kind>`` of the table over that
      column of the FINAL bucket list, flattened as constant columns (see
      :func:`_apply_siblings`); percentiles_bucket is
      linear-interpolated over the sorted bucket values — ES computes
      this one exactly too, so no TDigest deviation.
    - ``{"significant_terms": {"field": f, "size": n,
      "min_doc_count": m}}`` -> terms over-represented in the
      qualifying set vs the whole index, JLH-scored (see
      :func:`_apply_significant`).
    - ``{"rare_terms": {"field": f, "max_doc_count": m}}`` -> the
      long-tail buckets, exact (see :func:`_apply_rare_terms`).
    - ``{"significant_text": {"field": f, ...}}`` -> the JLH machinery
      over ANALYZED text (see :func:`_apply_significant`).
    - ``{"sampler": {"shard_size": n}, "aggs": {...}}`` -> the inner
      agg over the top-n best-scoring qualifying docs (one
      TakeOrderedAndProject cut; the ES speed companion of
      significant_text).
    - ``{"global": {}, "aggs": {...}}`` -> the sub-agg over the WHOLE
      index, ignoring the request query (ES global bucket).

    Bucket aggs may nest metric sub-aggs under ``"aggs"``. The match
    semantics are :func:`search_dsl`'s (scores computed but irrelevant:
    aggregations run over the QUALIFYING set, exactly ES's behaviour);
    the whole request stays one stats agg + one grouped aggregation —
    Catalyst partial-aggregates map-side, so the shuffle carries one row
    per (partition, bucket), not per doc.
    """
    return _aggregate(_CorpusBackend(docs_df, params), request)


def _parse_aggs_block(request: dict):
    """Validate the ``aggs`` block -> (name, kind, body, sub_aggs,
    sibling pipelines ``{name: (kind, body)}``). Exactly one
    NON-PIPELINE top-level aggregation; any further top-level aggs must
    be sibling pipelines (``avg_bucket`` family) referencing it via
    ``buckets_path`` — the ES shape where the pipeline sits NEXT TO the
    multi-bucket agg it reads."""
    if not isinstance(request, dict) or "aggs" not in request:
        raise DslError('aggregation request needs an "aggs" block')
    aggs = request["aggs"]
    if not isinstance(aggs, dict) or not aggs:
        raise DslError("aggs must be a non-empty dict")
    siblings, primary = {}, {}
    for name, spec in aggs.items():
        if (isinstance(spec, dict) and len(spec) == 1
                and next(iter(spec)) in _SIBLING_KINDS):
            (sk, sb), = spec.items()
            siblings[name] = (sk, sb)
        else:
            primary[name] = spec
    if len(primary) != 1:
        raise DslError(
            "exactly one non-pipeline top-level aggregation is "
            "supported (plus sibling pipelines referencing it)")
    (agg_name, agg_spec), = primary.items()
    if not isinstance(agg_spec, dict) or not agg_spec:
        raise DslError(f"bad aggregation {agg_name!r}")
    sub = agg_spec.get("aggs", {})
    kinds = [k for k in agg_spec if k != "aggs"]
    if len(kinds) != 1:
        raise DslError(f"aggregation {agg_name!r} needs exactly one type")
    return agg_name, kinds[0], agg_spec[kinds[0]], sub, siblings


_BUCKET_KINDS = ("terms", "multi_terms", "date_histogram", "histogram")

# ES parent pipeline aggregations: cumulative_sum/derivative compute
# over the parent's bucket SEQUENCE (hence their histogram-family-
# parent requirement — terms buckets have no sequential order for a
# running sum / difference to be defined over, exactly the ES
# restriction); bucket_sort re-sorts/truncates ANY multi-bucket
# parent's final bucket list; bucket_script/bucket_selector are
# PER-BUCKET (no sequence dependency), so any single-level parent.
_SEQUENCE_PIPELINES = ("cumulative_sum", "derivative", "serial_diff",
                       "moving_fn", "cumulative_cardinality",
                       "normalize")
_PIPELINE_KINDS = _SEQUENCE_PIPELINES + (
    "bucket_sort", "bucket_script", "bucket_selector")


def _parse_bucket_sort(body, out_cols: list[str]):
    """``bucket_sort`` body -> ([(column, direction)], from, size).
    Sort targets take the pipeline path grammar (``_count`` ->
    doc_count, ``_key`` -> key, metric name, ``stats-name.stat``);
    ``gap_policy`` stays out of grammar — fail loud."""
    if not isinstance(body, dict):
        raise DslError(f"bad bucket_sort body {body!r}")
    unknown = set(body) - {"sort", "from", "size"}
    if unknown:
        raise DslError(
            f"unsupported bucket_sort options {sorted(unknown)}")
    raw = body.get("sort", [])
    if isinstance(raw, (str, dict)):
        raw = [raw]
    if not isinstance(raw, list):
        raise DslError(f"bad bucket_sort sort {body.get('sort')!r}")
    keys = []
    for s in raw:
        if isinstance(s, str):
            fld, d = s, "asc"
        elif isinstance(s, dict) and len(s) == 1:
            (fld, v), = s.items()
            if isinstance(v, str):
                d = v
            elif isinstance(v, dict) and set(v) <= {"order"}:
                d = v.get("order", "asc")
            else:
                raise DslError(f"bad bucket_sort sort entry {s!r}")
        else:
            raise DslError(f"bad bucket_sort sort entry {s!r}")
        if d not in ("asc", "desc"):
            raise DslError(f"bad bucket_sort direction {d!r}")
        col = {"_count": "doc_count", "_key": "key"}.get(
            fld, fld.replace(".", "_"))
        if col not in out_cols:
            raise DslError(
                f"bucket_sort target {fld!r} is not a column of this "
                f"bucket")
        keys.append((col, d))
    frm = _pos_int(body, "from", 0, "bucket_sort", lo=0)
    size = (None if body.get("size") is None
            else _pos_int(body, "size", None, "bucket_sort"))
    if not keys and size is None and frm == 0:
        raise DslError("bucket_sort needs sort, from, or size")
    return keys, frm, size


def _split_pipeline(sub: dict):
    """Sub-agg block -> (pipeline aggs ``{name: (kind, body)}``, the
    remaining sub-aggs). Pipelines are pulled out BEFORE
    :func:`_split_sub` so their names can never be mistaken for metric
    sub-aggs (whose values they reference via ``buckets_path``)."""
    pipes, rest = {}, {}
    for name, spec in sub.items():
        if (isinstance(spec, dict) and len(spec) == 1
                and next(iter(spec)) in _PIPELINE_KINDS):
            (pk, pb), = spec.items()
            pipes[name] = (pk, pb)
        else:
            rest[name] = spec
    return pipes, rest


def _pipeline_path(kind: str, body, metric_cols: list[str]) -> str:
    """Validate a pipeline body -> the flattened column its
    ``buckets_path`` addresses: ``_count`` -> ``doc_count``, a metric
    sub-agg name -> itself, ``name.stat`` -> the flattened
    ``name_stat`` (same addressing rule as the terms order grammar).
    Unknown options FAIL — a silently-ignored ``gap_policy`` would
    return different values than the user's ES cluster."""
    if not isinstance(body, dict) or "buckets_path" not in body:
        raise DslError(f"{kind} needs a buckets_path, got {body!r}")
    allowed = {"buckets_path"}
    if kind == "serial_diff":
        allowed |= {"lag"}
    elif kind == "moving_fn":
        allowed |= {"window", "script", "shift"}
    elif kind == "normalize":
        # `format` only decorates ES's value_as_string rendering — the
        # frame returns numeric columns, so it is a SAFE NO-OP
        # (same class as terms shard_size), accepted for compatibility
        allowed |= {"method", "format"}
    unknown = set(body) - allowed
    if unknown:
        raise DslError(f"unsupported {kind} options {sorted(unknown)}")
    p = body["buckets_path"]
    if p == "_count":
        return "doc_count"
    if not isinstance(p, str):
        raise DslError(f"buckets_path must be a string, got {p!r}")
    col = p.replace(".", "_")
    if col not in metric_cols:
        raise DslError(
            f"buckets_path {p!r} is not a metric of this bucket")
    return col


_SCRIPT_TOKEN = _re.compile(
    r"params\.([A-Za-z_]\w*)|(\d+\.\d+|\d+)"
    r"|(==|!=|<=|>=|&&|\|\||[-+*/()<>])|(\s+)")


# ES `moving_fn` scripts the engine supports: the five stock
# MovingFunctions the ES docs themselves present (whitespace-
# insensitive literal match — moving_fn scripts are painless LAMBDAS
# over the window array, so arbitrary arithmetic stays out-of-grammar,
# unlike bucket_script's compiled scalar subset). Each maps to the
# equivalent Spark window aggregate over the same row frame.
_MOVING_FN_SCRIPTS = {
    "MovingFunctions.max(values)": "max",
    "MovingFunctions.min(values)": "min",
    "MovingFunctions.sum(values)": "sum",
    "MovingFunctions.unweightedAvg(values)": "avg",
    "MovingFunctions.stdDev(values,MovingFunctions.unweightedAvg(values))":
        "std",
}


def _parse_moving_fn(body: dict):
    """``moving_fn`` body -> (fn key, frame lo, frame hi). ES window
    rule: with ``shift`` s (default 0) bucket i sees values at
    positions [i - window + s, i - 1 + s] — shift 0 excludes the
    current bucket, shift 1 includes it (the ES docs' own examples).
    Empty-window semantics follow Lucene's MovingFunctions reduced
    through ES's non-finite-to-null JSON rendering: ``sum`` returns
    0.0 (the fold identity is finite), everything else null
    (NaN / ±Infinity render as null)."""
    window = _pos_int(body, "window", None, "moving_fn")
    shift = body.get("shift", 0)
    if isinstance(shift, bool) or not isinstance(shift, int):
        raise DslError(f"moving_fn shift must be an int, got {shift!r}")
    script = body.get("script")
    if not isinstance(script, str):
        raise DslError(f"moving_fn needs a script string, got {script!r}")
    key = _MOVING_FN_SCRIPTS.get("".join(script.split()))
    if key is None:
        raise DslError(
            f"unsupported moving_fn script {script!r} (supported: "
            f"{sorted(_MOVING_FN_SCRIPTS)})")
    return key, -window + shift, shift - 1


def _compile_bucket_script(kind: str, body, metric_cols: list[str]):
    """``bucket_script`` / ``bucket_selector`` body -> a SQL expression
    string in the Spark-SQL ∩ DuckDB shared subset (the same rule the
    regexp / prefix / wildcard predicates follow: the DuckDB oracle
    replays the EXACT string, so only constructs both dialects parse
    identically are in grammar).

    Script grammar — the painless arithmetic subset report queries
    actually write: ``params.<var>`` references, numeric literals,
    ``+ - * /``, parens, comparisons (``== != < <= > >=``) and
    ``&& ||``. Vars resolve through ``buckets_path`` ({var: "_count" |
    metric | "stats-name.stat"}) and are cast to DOUBLE (painless
    arithmetic is double-valued). Math.*, ternaries, method calls,
    ``gap_policy``/``format`` — fail loud. A full recursive-descent
    pass validates the expression AND types it: ``bucket_script``
    must be numeric, ``bucket_selector`` boolean — a shape error
    surfaces as :class:`DslError` at parse, not an opaque Spark
    AnalysisException at execution."""
    if not isinstance(body, dict):
        raise DslError(f"bad {kind} body {body!r}")
    unknown = set(body) - {"buckets_path", "script"}
    if unknown:
        raise DslError(f"unsupported {kind} options {sorted(unknown)}")
    paths = body.get("buckets_path")
    if not isinstance(paths, dict) or not paths:
        raise DslError(
            f"{kind} needs a {{var: path}} buckets_path, got {paths!r}")
    cols = {}
    for var, p in paths.items():
        if not _re.fullmatch(r"[A-Za-z_]\w*", var):
            raise DslError(f"bad {kind} variable name {var!r}")
        col = _pipeline_path(kind, {"buckets_path": p}, metric_cols)
        if not _re.fullmatch(r"[A-Za-z_]\w*", col):
            raise DslError(
                f"{kind} path {p!r} resolves to a column that needs "
                f"quoting — out of the shared-SQL-subset grammar")
        cols[var] = col
    script = body.get("script")
    if isinstance(script, dict) and set(script) <= {"source"}:
        script = script.get("source")  # ES long-form script object
    if not isinstance(script, str) or not script.strip():
        raise DslError(f"{kind} needs a script string, got {script!r}")

    toks, pos = [], 0
    while pos < len(script):
        m = _SCRIPT_TOKEN.match(script, pos)
        if m is None:
            raise DslError(
                f"{kind} script: unsupported syntax at "
                f"{script[pos:pos + 12]!r} (grammar: params.var, "
                f"numbers, + - * / parens, comparisons, && ||)")
        pos = m.end()
        if m.group(4):  # whitespace
            continue
        if m.group(1):
            var = m.group(1)
            if var not in cols:
                raise DslError(
                    f"{kind} script references params.{var} which is "
                    f"not in buckets_path {sorted(cols)}")
            toks.append(("var", f"CAST({cols[var]} AS DOUBLE)"))
        elif m.group(2):
            toks.append(("num", m.group(2)))
        else:
            toks.append(("op", m.group(3)))

    # recursive descent: validates shape AND types the expression so
    # selector-vs-script misuse fails loud here, with SQL emitted
    # token-by-token (precedence: || < && < cmp < +- < */ < unary -)
    out: list[str] = []
    i = 0

    def peek():
        return toks[i] if i < len(toks) else (None, None)

    def take():
        nonlocal i
        t = toks[i]
        i += 1
        return t

    def atom() -> str:
        kind_, val = peek()
        if kind_ in ("var", "num"):
            take()
            out.append(val)
            return "num"
        if kind_ == "op" and val == "-":
            take()
            out.append("-")
            if atom() != "num":
                raise DslError(f"{kind} script: unary - on a boolean")
            return "num"
        if kind_ == "op" and val == "(":
            take()
            out.append("(")
            t = disj()
            if peek() != ("op", ")"):
                raise DslError(f"{kind} script: unbalanced parens")
            take()
            out.append(")")
            return t
        raise DslError(f"{kind} script: expected a value, got {val!r}")

    def binchain(sub, ops, emit, operand_t, result_t, single=False):
        t = sub()
        seen = False
        while peek()[0] == "op" and peek()[1] in ops:
            if single and seen:
                raise DslError(
                    f"{kind} script: chained comparisons need parens")
            seen = True
            op = take()[1]
            out.append(emit.get(op, op))
            if t != operand_t or sub() != operand_t:
                raise DslError(
                    f"{kind} script: operator {op} needs "
                    f"{'numeric' if operand_t == 'num' else 'boolean'} "
                    f"operands")
            t = result_t
        return t

    def prod():
        return binchain(atom, ("*", "/"), {}, "num", "num")

    def sums():
        return binchain(prod, ("+", "-"), {}, "num", "num")

    def cmp():
        return binchain(sums, ("==", "!=", "<=", ">=", "<", ">"),
                        {"==": "=", "!=": "<>"}, "num", "bool",
                        single=True)

    def conj():
        return binchain(cmp, ("&&",), {"&&": " AND "}, "bool", "bool")

    def disj():
        return binchain(conj, ("||",), {"||": " OR "}, "bool", "bool")

    t = disj()
    if i < len(toks):
        raise DslError(
            f"{kind} script: trailing tokens from {toks[i][1]!r}")
    want = "bool" if kind == "bucket_selector" else "num"
    if t != want:
        raise DslError(
            f"{kind} script must be "
            f"{'boolean' if want == 'bool' else 'numeric'}-valued "
            f"(got a {'boolean' if t == 'bool' else 'numeric'} "
            f"expression)")
    return " ".join(s.strip() for s in out)


def _sibling_exprs(siblings: dict, agg_name: str,
                   out_cols: list[str]) -> list:
    """Validate sibling pipeline bodies against the flattened bucket
    frame -> aliased aggregate expressions over it: ``<kind>_bucket``
    is metric ``<kind>`` of :data:`_METRICS` over the bucket column.
    ``buckets_path`` takes the ES sibling form ``<bucket-agg>><metric>``
    (or ``>_count`` / ``><stats-name>.<stat>``), where the prefix must
    name the one primary aggregation. ES ``gap_policy: skip`` (the
    default) is the only behaviour: Spark aggregates skip NULL metric
    values natively. Unknown options FAIL, same rule as parent
    pipelines."""
    taken = set(out_cols)
    exprs = []
    for name, (kind, body) in siblings.items():
        metric = _SIBLING_KINDS[kind]
        m = _METRICS[metric]
        if not isinstance(body, dict) or "buckets_path" not in body:
            raise DslError(f"{kind} needs a buckets_path, got {body!r}")
        unknown = set(body) - {"buckets_path", *m.sibling}
        if unknown:
            raise DslError(f"unsupported {kind} options {sorted(unknown)}")
        p = body["buckets_path"]
        if not isinstance(p, str) or ">" not in p:
            raise DslError(
                f"{kind} buckets_path must be "
                f"'<bucket-agg>>metric', got {p!r}")
        head, _, tail = p.partition(">")
        if head != agg_name:
            raise DslError(
                f"buckets_path {p!r} must reference the sibling "
                f"aggregation {agg_name!r}")
        col = "doc_count" if tail == "_count" else tail.replace(".", "_")
        if col not in out_cols or col in ("key", "sub_key"):
            raise DslError(
                f"buckets_path {p!r} is not a metric of {agg_name!r}")
        pairs = m.cols(metric, name, body, F.col(col))
        _claim(taken, [n for n, _ in pairs])
        exprs += [e.alias(n) for n, e in pairs]
    return exprs


def _apply_siblings(out: DataFrame, siblings: dict, agg_name: str,
                    order_cols: list) -> DataFrame:
    """Append sibling pipeline results to the final bucket frame. ES
    returns them as separate top-level aggregation values; the
    flattened DataFrame carries them as CONSTANT columns on every
    bucket row (same flattening rule as ``stats``/nested buckets) —
    one broadcast cross-join of a 1-row aggregate, after which the
    bucket ordering is re-established."""
    if not siblings:
        return out
    exprs = _sibling_exprs(siblings, agg_name, out.columns)
    sib = out.agg(*exprs)
    return out.crossJoin(F.broadcast(sib)).orderBy(*order_cols)


_CAL_STEP = {"hour": "interval 1 hour", "day": "interval 1 day",
             "week": "interval 1 week", "month": "interval 1 month",
             "quarter": "interval 3 month", "year": "interval 1 year"}


# The ES auto_date_histogram rounding ladder (AutoDateHistogram
# AggregationBuilder's RoundingInfos): each base unit with its inner
# multiples, smallest first. The reduce phase picks the FIRST entry
# whose bucket count fits the target.
_AUTO_LADDER = (
    ("second", 1, "1s"), ("second", 5, "5s"),
    ("second", 10, "10s"), ("second", 30, "30s"),
    ("minute", 1, "1m"), ("minute", 5, "5m"),
    ("minute", 10, "10m"), ("minute", 30, "30m"),
    ("hour", 1, "1h"), ("hour", 3, "3h"), ("hour", 12, "12h"),
    ("day", 1, "1d"), ("day", 7, "7d"),
    ("month", 1, "1M"), ("month", 3, "3M"),
    ("year", 1, "1y"), ("year", 5, "5y"), ("year", 10, "10y"),
    ("year", 20, "20y"), ("year", 50, "50y"), ("year", 100, "100y"),
)
_AUTO_SECS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
_AUTO_UNIT_SUFFIX = {"second": "s", "minute": "m", "hour": "h",
                     "day": "d"}
_MIN_INTERVAL_ORDER = ("second", "minute", "hour", "day", "month",
                       "year")


def _resolve_auto_interval(frame: DataFrame, body: dict):
    """``auto_date_histogram`` body -> (the equivalent
    ``date_histogram`` body, the chosen ES interval label). The field's
    (min, max) resolve in ONE single-row aggregate (two scalars cross
    the driver boundary — the same bounded pattern as k-means
    centroids, never data rows), then the smallest ladder interval
    whose bucket count fits ``buckets`` (ES default 10) wins; nothing
    fits -> the largest (100y). The rewritten body carries
    ``min_doc_count: 0`` because ES returns the CONTIGUOUS bucket
    sequence (empty buckets included) — the engine's gap-fill is
    exactly that. Sub-second/minute/hour/day multiples map to the
    epoch-anchored ``fixed_interval`` path (ES rounds 1d at UTC
    midnight = a multiple of 86400; the 7d anchor is the Unix epoch —
    a Thursday — where ES anchors day-multiples per rounding, a
    documented deviation at the 7d rung only), 1M/3M/1y to calendar
    month/quarter/year, and 5y+ to the internal ``__cal_years``
    multiple-year floor. ``minimum_interval`` trims the ladder's small
    end (the ES option); ``time_zone`` stays out of grammar (ES
    re-anchors per DST segment — the documented fixed-interval rule)."""
    if not isinstance(body, dict):
        raise DslError(f"bad auto_date_histogram body {body!r}")
    unknown = set(body) - {"field", "buckets", "minimum_interval"}
    if unknown:
        raise DslError(
            f"unsupported auto_date_histogram options {sorted(unknown)}")
    if "field" not in body or not isinstance(body["field"], str):
        raise DslError("auto_date_histogram needs a field")
    target = _pos_int(body, "buckets", 10, "auto_date_histogram")
    mi = body.get("minimum_interval")
    if mi is not None and mi not in _MIN_INTERVAL_ORDER:
        raise DslError(
            f"bad minimum_interval {mi!r} "
            f"(one of {list(_MIN_INTERVAL_ORDER)})")
    ladder = [e for e in _AUTO_LADDER
              if mi is None
              or (_MIN_INTERVAL_ORDER.index(e[0])
                  >= _MIN_INTERVAL_ORDER.index(mi))]

    col = F.col(_ident(body["field"]))
    row = frame.agg(F.min(col).alias("lo"), F.max(col).alias("hi")
                    ).first()
    lo, hi = (row["lo"], row["hi"]) if row is not None else (None, None)
    chosen = ladder[0] if lo is None else ladder[-1]
    if lo is not None:
        elo = int(lo.replace(tzinfo=_dt.timezone.utc).timestamp())
        ehi = int(hi.replace(tzinfo=_dt.timezone.utc).timestamp())
        for unit, k, label in ladder:
            if unit in _AUTO_SECS:
                secs = _AUTO_SECS[unit] * k
                cnt = ehi // secs - elo // secs + 1
            elif unit == "month":
                mlo = (lo.year - 1970) * 12 + lo.month - 1
                mhi = (hi.year - 1970) * 12 + hi.month - 1
                cnt = mhi // k - mlo // k + 1
            else:
                cnt = ((hi.year - 1970) // k - (lo.year - 1970) // k
                       + 1)
            if cnt <= target:
                chosen = (unit, k, label)
                break
    unit, k, label = chosen
    nb = {"field": body["field"], "min_doc_count": 0}
    if unit in _AUTO_SECS:
        nb["fixed_interval"] = f"{k}{_AUTO_UNIT_SUFFIX[unit]}"
    elif unit == "month":
        nb["calendar_interval"] = "month" if k == 1 else "quarter"
    elif k == 1:
        nb["calendar_interval"] = "year"
    else:
        nb["__cal_years"] = k
    return nb, label


def _eb_bucket(kind: str, body: dict, v, which: str):
    """``extended_bounds`` value -> its bucket key, using the SAME
    arithmetic as the data path (floor to interval / date_trunc /
    epoch floor) so the extended key lines up with real bucket keys."""
    if kind == "histogram":
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise DslError(
                f"extended_bounds {which} must be a number, got {v!r}")
        iv, off = float(body["interval"]), float(body.get("offset", 0))
        return math.floor((float(v) - off) / iv) * iv + off
    t = _resolve_date_math(v, "gte")
    if isinstance(t, str):
        try:
            t = _dt.datetime.fromisoformat(t)
        except ValueError:
            raise DslError(
                f"bad extended_bounds {which} {v!r}") from None
    if not isinstance(t, _dt.datetime):
        raise DslError(f"bad extended_bounds {which} {v!r}")
    cal = body.get("calendar_interval")
    if cal is not None:
        if cal == "quarter":
            m = (t.month - 1) // 3 * 3 + 1
            return t.replace(month=m, day=1, hour=0, minute=0,
                             second=0, microsecond=0)
        u = {"hour": "h", "day": "d", "week": "w", "month": "M",
             "year": "y"}[cal]
        return _trunc_unit(t, u)
    secs = _fixed_interval_seconds(body["fixed_interval"])
    epoch = int(t.replace(tzinfo=_dt.timezone.utc).timestamp())
    return _dt.datetime.utcfromtimestamp(epoch // secs * secs)


def _gap_fill(out: DataFrame, kind: str, body: dict) -> DataFrame:
    """ES ``min_doc_count: 0`` on a histogram-family bucket agg: emit
    the EMPTY buckets between the smallest and largest observed keys,
    optionally widened by ``extended_bounds`` (which ES only honors
    together with min_doc_count 0 — enforced at parse). The full key
    sequence builds from ONE aggregated bounds row via F.sequence —
    bucket-cardinality work, never corpus rows; empty buckets carry
    doc_count 0 and NULL metrics (ES: value null). Sequence pipelines
    (cumulative_sum/derivative) run AFTER the fill, so they see the
    gap-filled bucket sequence exactly as in ES."""
    eb = body.get("extended_bounds")
    lo_lit = hi_lit = None
    if eb is not None:
        if not isinstance(eb, dict) or set(eb) != {"min", "max"}:
            raise DslError(
                f"extended_bounds needs exactly min and max, got {eb!r}")
        lo_lit = _eb_bucket(kind, body, eb["min"], "min")
        hi_lit = _eb_bucket(kind, body, eb["max"], "max")
        if lo_lit > hi_lit:
            raise DslError("extended_bounds min must be <= max")
    b = out.agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
    if eb is not None:
        # least/greatest skip NULLs, so an empty qualifying set still
        # emits the full extended range (the ES contract)
        b = b.select(F.least("lo", F.lit(lo_lit)).alias("lo"),
                     F.greatest("hi", F.lit(hi_lit)).alias("hi"))
    if kind == "histogram":
        iv, off = float(body["interval"]), float(body.get("offset", 0))
        # ordinals, then m*iv + off — the data path's exact double
        # arithmetic, so filled keys join observed keys bit-identically
        keys = b.select(F.explode(F.sequence(
            F.round((F.col("lo") - F.lit(off)) / F.lit(iv)).cast("long"),
            F.round((F.col("hi") - F.lit(off)) / F.lit(iv)).cast("long"),
        )).alias("m")).select(
            (F.col("m").cast("double") * F.lit(iv)
             + F.lit(off)).alias("key"))
    elif body.get("calendar_interval") is not None:
        keys = b.select(F.explode(F.sequence(
            "lo", "hi",
            F.expr(_CAL_STEP[body["calendar_interval"]]))).alias("key"))
    elif body.get("__cal_years") is not None:
        # keys are Jan-1 timestamps of 1970-anchored k-year periods
        # (the _bucket_key floor), so a k-year step lands exactly on
        # every observed key
        keys = b.select(F.explode(F.sequence(
            "lo", "hi",
            F.expr(f"interval {int(body['__cal_years'])} year")
        )).alias("key"))
    else:
        secs = _fixed_interval_seconds(body["fixed_interval"])
        keys = b.select(F.explode(F.sequence(
            F.unix_timestamp("lo"), F.unix_timestamp("hi"),
            F.lit(secs))).alias("e")).select(
            F.timestamp_seconds("e").alias("key"))
    cols = [c for c in out.columns if c != "key"]
    return (keys.join(out, "key", "left")
            .withColumn("doc_count",
                        F.coalesce("doc_count", F.lit(0)))
            .select("key", *cols))


def _terms_include_exclude(key, body: dict):
    """ES terms ``include``/``exclude``: filter the candidate TERMS
    before bucketing (so before min_doc_count/order/size — the ES
    pipeline order). Folded INTO the key expression as a NULL-out
    (``when(cond, key)``) so it composes with the docs-missing-the-
    field NULL-drop every call site already applies — zero structural
    change to any bucket path. Two ES forms: an exact-value list
    (typed ``isin``), or a Lucene-anchored regular expression matched
    against the term's STRING form (whole-term match, the Lucene
    rule), validated to the engine's shared regex subset. A term
    matching both include and exclude is excluded (ES). The
    partition-based form (``{"partition": n, "num_partitions": m}``)
    is a sharded-collection protocol and stays out of grammar."""
    inc, exc = body.get("include"), body.get("exclude")
    if inc is None and exc is None:
        return key

    def pred(v, what):
        if isinstance(v, list):
            if not v or any(isinstance(x, bool)
                            or not isinstance(x, (str, int, float))
                            for x in v):
                raise DslError(
                    f"terms {what} list must be non-empty scalars, "
                    f"got {v!r}")
            return key.isin(v)
        if isinstance(v, str) and v:
            _validate_regex_subset(v)
            # Lucene regex is implicitly anchored: the WHOLE term must
            # match (same idiom as the regexp meta clause)
            return key.cast("string").rlike("^(?:" + v + ")$")
        raise DslError(
            f"terms {what} must be a value list or a regex string, "
            f"got {v!r} (partition-based include is not supported)")

    cond = None
    if inc is not None:
        cond = pred(inc, "include")
    if exc is not None:
        ne = ~F.coalesce(pred(exc, "exclude"), F.lit(False))
        cond = ne if cond is None else cond & ne
    return F.when(cond, key)


def _bucket_key(kind: str, body: dict):
    """One bucket agg -> (key expr, size cap or None, order spec
    ``{target: "asc"|"desc"}`` with target ``_count`` / ``_key`` / a
    metric sub-agg name, min_doc_count). Unknown body options FAIL
    (ES-divergence rule: a silently-ignored ``missing``/``time_zone``
    would return different buckets than the user's cluster)."""
    if kind == "histogram":
        return _histogram_key(body)
    if kind == "multi_terms":
        return _multi_terms_key(body)
    if kind == "terms":
        # shard_size tunes ES's per-shard approximation accuracy; this
        # engine computes EXACT global counts, so it is a documented
        # SAFE NO-OP (the one class of option that cannot change
        # results here), accepted for client compatibility
        unknown = set(body) - {"field", "size", "order", "min_doc_count",
                               "missing", "shard_size", "include",
                               "exclude", "script"}
        if unknown:
            raise DslError(f"unsupported terms options {sorted(unknown)}")
        if ("field" in body) == ("script" in body):
            raise DslError(
                f"terms needs exactly one of field/script, got {body!r}")
        order = body.get("order", {"_count": "desc"})  # the ES default
        if not isinstance(order, dict) or len(order) != 1:
            raise DslError(
                'terms order must be a single {"target": "asc"|"desc"}')
        if "script" in body:
            # scripted bucket keys (round 5): the painless-subset
            # compiler emits one Catalyst key expression — numeric keys
            # (the compiler's domain), so the string-form knobs
            # (missing fills, include/exclude patterns) stay out of
            # grammar with a script
            bad = {"missing", "include", "exclude"} & set(body)
            if bad:
                raise DslError(
                    f"terms script buckets do not take {sorted(bad)}")
            key = _agg_script_col("terms script", body["script"])
        else:
            # ES terms `missing`: NULL-field docs bucket under this
            # value instead of being dropped
            key = _terms_include_exclude(_fill_missing(
                "terms", body, F.col(_ident(body["field"])),
                allow_str=True), body)
        # ES min_doc_count prunes buckets BEFORE the size cut; 0 (empty
        # buckets) would enumerate every term of the background set on
        # terms — out of grammar; the histogram family gap-fills it
        return (key, _pos_int(body, "size", 10, "terms"), order,
                _pos_int(body, "min_doc_count", 1, "terms"))
    unknown = set(body) - {"field", "calendar_interval", "fixed_interval",
                           "min_doc_count", "order", "extended_bounds",
                           "time_zone", "__cal_years"}
    if unknown:
        raise DslError(
            f"unsupported date_histogram options {sorted(unknown)}")
    iv = body.get("calendar_interval")
    fx = body.get("fixed_interval")
    yk = body.get("__cal_years")
    if sum(x is not None for x in (iv, fx, yk)) != 1:
        raise DslError("date_histogram needs exactly one of "
                       "calendar_interval / fixed_interval")
    if "order" in body:
        raise DslError(
            "date_histogram takes no order (ES: always key-ascending)")
    col = F.col(_ident(body["field"]))
    tz = body.get("time_zone")
    if yk is not None:
        # internal multiple-year floor, installed by
        # _resolve_auto_interval for the 5y+ rungs of the
        # auto_date_histogram ladder: Jan 1 of the containing
        # 1970-anchored k-year period
        _pos_int(body, "__cal_years", 1, "date_histogram")
        if tz is not None or "extended_bounds" in body:
            raise DslError(
                "__cal_years supports neither time_zone nor "
                "extended_bounds")
        key = F.to_timestamp(F.make_date(
            (F.lit(1970)
             + F.floor((F.year(col) - F.lit(1970)) / F.lit(yk))
             .cast("int") * F.lit(yk)),
            F.lit(1), F.lit(1)))
    elif iv is not None:
        if iv not in _CALENDAR_INTERVALS:
            raise DslError(f"calendar_interval {iv!r} not supported")
        key = _tz_date_trunc(iv, col, tz)
    else:
        if tz is not None:
            # ES re-anchors fixed buckets to the zone's epoch offset,
            # which shifts PER BUCKET across DST transitions — a
            # silently-approximated anchor would diverge from the
            # user's cluster, so fixed_interval stays UTC-anchored
            raise DslError(
                "time_zone is supported with calendar_interval only")
        # ES fixed_interval: exact multiples of a unit, buckets anchored
        # at the 1970 UTC epoch — floor(epoch/secs)*secs
        secs = _fixed_interval_seconds(fx)
        key = F.timestamp_seconds(
            F.floor(F.unix_timestamp(col) / F.lit(secs)).cast("long")
            * F.lit(secs))
    mdc = _pos_int(body, "min_doc_count", 1, "date_histogram", lo=0)
    if tz is not None and mdc == 0:
        raise DslError(
            "time_zone with min_doc_count: 0 is not supported (the "
            "gap-fill sequence steps in UTC; local-boundary steps are "
            "irregular across DST)")
    if "extended_bounds" in body and mdc != 0:
        raise DslError(
            "extended_bounds needs min_doc_count: 0 (ES only honors "
            "it when empty buckets are emitted)")
    # ES date_histogram has no bucket cap by default
    return key, body.get("size"), {"_key": "asc"}, mdc


_TZ_OFFSET_RE = _re.compile(r"([+-])(\d{2}):(\d{2})")


def _tz_date_trunc(iv: str, col, tz):
    """ES ``date_histogram`` ``time_zone``: buckets fall on LOCAL-time
    calendar boundaries, keyed by the boundary's UTC instant —
    trunc-in-local-time, converted back.

    - fixed offset ``"+HH:MM"``/``"-HH:MM"``: pure epoch-second
      arithmetic (shift, trunc, unshift) — no tz database, portable to
      any oracle dialect verbatim.
    - named IANA zone: ``from_utc_timestamp``/``to_utc_timestamp``
      (JVM tzdb; DST-correct). The DuckDB replay
      ``timezone(tz, date_trunc(iv, timezone(tz, ts::TIMESTAMPTZ)))``
      (UTC session) is value-identical across the DST transitions the
      engine tests pin — both resolve against current IANA data. Zones
      whose transitions land ON a bucket boundary (midnight DST, e.g.
      historic America/Havana) can make the local boundary ambiguous;
      both engines then pick the same earlier-offset instant. ES
      ``"UTC"`` is the identity.
    """
    if tz is None or tz == "UTC":
        return F.date_trunc(iv, col)
    if not isinstance(tz, str) or not tz:
        raise DslError(f"time_zone must be a string, got {tz!r}")
    m = _TZ_OFFSET_RE.fullmatch(tz)
    if m:
        off = (1 if m.group(1) == "+" else -1) * \
            (int(m.group(2)) * 3600 + int(m.group(3)) * 60)
        shifted = F.timestamp_seconds(F.unix_timestamp(col) + F.lit(off))
        return F.timestamp_seconds(
            F.unix_timestamp(F.date_trunc(iv, shifted)) - F.lit(off))
    try:
        from zoneinfo import ZoneInfo  # noqa: PLC0415 (stdlib)
        ZoneInfo(tz)
    except Exception:
        raise DslError(
            f"unknown time_zone {tz!r} (IANA name or +HH:MM offset)")
    return F.to_utc_timestamp(F.date_trunc(iv, F.from_utc_timestamp(col, tz)),
                              tz)


def _multi_terms_key(body: dict):
    """ES ``multi_terms``: compound-key terms buckets —
    ``{"terms": [{"field": f1}, {"field": f2}, ...], "size", "order",
    "min_doc_count"}`` (ES requires >= 2 sources). The engine flattens
    the compound key to ONE pipe-joined string column (ES returns a key
    array + a ``key_as_string`` joined with ``|`` — the string is the
    flattened form, and numeric sources render via their string cast),
    so every downstream mechanism — order grammar, min_doc_count, size
    cut, metric sub-aggs, bucket_sort, bucket scripts, nesting — works
    unchanged. ``_key`` ordering therefore compares the JOINED string
    (lexicographic), which matches ES's per-term tuple order whenever
    values don't embed the separator — documented flattening rule, same
    family as the nested-bucket flattening. Docs NULL in ANY source are
    dropped (ES), via a when() guard — concat_ws alone would silently
    skip NULL parts and merge distinct tuples. Per-source ``missing``
    fills ride the same scalar rule as ``terms``."""
    unknown = set(body) - {"terms", "size", "order", "min_doc_count",
                           "shard_size"}
    if unknown:
        raise DslError(
            f"unsupported multi_terms options {sorted(unknown)}")
    srcs = body.get("terms")
    if not isinstance(srcs, list) or len(srcs) < 2:
        raise DslError(
            "multi_terms needs a terms list of at least two sources "
            "(ES: use terms for a single field)")
    cols = []
    for t in srcs:
        if not isinstance(t, dict) or "field" not in t \
                or set(t) - {"field", "missing"}:
            raise DslError(f"bad multi_terms source {t!r}")
        cols.append(_fill_missing("multi_terms", t,
                                  F.col(_ident(t["field"])), allow_str=True))
    notnull = reduce(lambda a, b: a & b, [c.isNotNull() for c in cols])
    key = F.when(notnull,
                 F.concat_ws("|", *[c.cast("string") for c in cols]))
    order = body.get("order", {"_count": "desc"})  # the ES default
    if not isinstance(order, dict) or len(order) != 1:
        raise DslError(
            'multi_terms order must be a single {"target": "asc"|"desc"}')
    return (key, _pos_int(body, "size", 10, "multi_terms"), order,
            _pos_int(body, "min_doc_count", 1, "multi_terms"))


def _histogram_key(body: dict):
    """ES numeric ``histogram``: key = floor((v - offset) / interval) *
    interval + offset, key-ascending, no bucket cap. ``min_doc_count``
    defaults to 1 (the engine's documented empty-bucket deviation);
    an explicit 0 gap-fills (:func:`_gap_fill`)."""
    unknown = set(body) - {"field", "interval", "offset",
                           "min_doc_count", "extended_bounds"}
    if unknown:
        raise DslError(
            f"unsupported histogram options {sorted(unknown)}")
    iv = body.get("interval")
    if isinstance(iv, bool) or not isinstance(iv, (int, float)) or iv <= 0:
        raise DslError(f"histogram interval must be > 0, got {iv!r}")
    off = body.get("offset", 0)
    if isinstance(off, bool) or not isinstance(off, (int, float)):
        raise DslError(f"histogram offset must be a number, got {off!r}")
    col = F.col(_ident(body["field"])).cast("double")
    key = (F.floor((col - F.lit(float(off))) / F.lit(float(iv)))
           * F.lit(float(iv)) + F.lit(float(off)))
    mdc = _pos_int(body, "min_doc_count", 1, "histogram", lo=0)
    if "extended_bounds" in body and mdc != 0:
        raise DslError(
            "extended_bounds needs min_doc_count: 0 (ES only honors "
            "it when empty buckets are emitted)")
    return key, None, {"_key": "asc"}, mdc


_FIXED_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def _fixed_interval_seconds(s) -> int:
    """'90m' -> 5400. ES fixed_interval units s/m/h/d (ms stays
    out-of-grammar — the engine's timestamps are second-resolution)."""
    if isinstance(s, str):
        m = _re.fullmatch(r"(\d+)(s|m|h|d)", s)
        if m and int(m.group(1)) > 0:
            return int(m.group(1)) * _FIXED_UNITS[m.group(2)]
    raise DslError(f"fixed_interval {s!r} not supported (Ns/Nm/Nh/Nd)")


def _bucket_order(order_spec: dict, count_col: str, key_col: str,
                  metric_names: list[str]) -> list:
    """Order spec -> sort columns. ``_count`` / metric targets break
    ties on the key ascending (ES); a metric target must name a metric
    sub-agg of THIS bucket level — the ES ``stats`` sub-values address
    as ``name.avg`` etc. (mapped onto the flattened ``name_avg``)."""
    (target, d), = order_spec.items()
    if d not in ("asc", "desc"):
        raise DslError(f"bucket order must be asc or desc, got {d!r}")
    dirf = F.asc if d == "asc" else F.desc
    if target == "_key":
        return [dirf(key_col)]
    if target == "_count":
        return [dirf(count_col), F.asc(key_col)]
    col = target.replace(".", "_")
    if col not in metric_names:
        raise DslError(
            f"order target {target!r} is not a metric of this bucket")
    return [dirf(col), F.asc(key_col)]


def _split_sub(sub: dict):
    """Sub-agg block -> (metric sub-aggs, bucket sub-agg or None as
    (name, kind, body, its own sub block))."""
    metrics, bucket = {}, None
    for name, spec in sub.items():
        if not isinstance(spec, dict) or not spec:
            raise DslError(f"bad sub-aggregation {name!r}")
        kinds = [k for k in spec if k != "aggs"]
        if len(kinds) != 1:
            raise DslError(f"sub-aggregation {name!r} needs exactly one type")
        if kinds[0] in _BUCKET_KINDS:
            if bucket is not None:
                raise DslError("at most one bucket sub-aggregation")
            bucket = (name, kinds[0], spec[kinds[0]], spec.get("aggs", {}))
        else:
            if "aggs" in spec:
                raise DslError(
                    f"metric sub-aggregation {name!r} cannot nest further")
            metrics[name] = spec
    return metrics, bucket


def _es_bound(v) -> str:
    """ES default range-bucket key half: '*' for an open end, else the
    double rendering ('100.0')."""
    return "*" if v is None else repr(float(v))


def _apply_multibucket_agg(frame: DataFrame, agg_name: str, kind: str,
                           body: dict, sub: dict) -> DataFrame:
    """``range`` / ``filters`` buckets — ES's MULTI-membership bucket
    aggs (overlapping ranges / independent named predicates put one doc
    in several buckets), which a plain groupBy key cannot express: the
    doc fans out map-side into its matching buckets (explode over a
    per-row when() array — no join, no second scan), then one grouped
    aggregation. Buckets keep definition order (ES); ``filters``
    returns EVERY named bucket — empty ones at doc_count 0 with NULL
    metric leaves, the ES shape — while ``range``/``adjacency_matrix``
    drop empty buckets from the flattened output (for adjacency_matrix
    that IS the ES rule; for range it is the engine's one documented
    empty-bucket deviation). Metric sub-aggs only (bucket nesting
    below a multi-membership parent is out-of-grammar here)."""
    metrics_spec, sub_bucket = _split_sub(sub)
    if sub_bucket is not None:
        raise DslError(f"{kind} aggregations take metric sub-aggs only")

    buckets: list[tuple[int, str, object]] = []  # (rank, key, cond)
    if kind == "range":
        unknown = set(body) - {"field", "ranges"}
        if unknown:
            raise DslError(
                f"unsupported range-agg options {sorted(unknown)}")
        col = F.col(_ident(body["field"]))
        ranges = body.get("ranges")
        if not isinstance(ranges, list) or not ranges:
            raise DslError("range aggregation needs a ranges list")
        for i, r in enumerate(ranges):
            if not isinstance(r, dict):
                raise DslError(f"bad range {r!r}")
            if set(r) - {"from", "to", "key"}:
                raise DslError(
                    f"unsupported range-bucket options "
                    f"{sorted(set(r) - {'from', 'to', 'key'})}")
            frm, to = r.get("from"), r.get("to")
            if frm is None and to is None:
                raise DslError("range bucket needs from and/or to")
            cond = col.isNotNull()
            if frm is not None:
                cond = cond & (col >= F.lit(frm))  # ES: from inclusive
            if to is not None:
                cond = cond & (col < F.lit(to))    # ES: to exclusive
            key = r.get("key") or f"{_es_bound(frm)}-{_es_bound(to)}"
            buckets.append((i, key, cond))
    elif kind == "adjacency_matrix":
        # ES adjacency_matrix: one bucket per named filter plus one
        # per PAIRWISE intersection (key "a&b"); ES returns only
        # non-empty buckets, key-sorted — exactly the flattened
        # output's behaviour, so no deviation here. Same map-side
        # explode fan-out as filters: N + C(N,2) conditions, one scan.
        unknown = set(body) - {"filters", "separator"}
        if unknown:
            raise DslError(
                f"unsupported adjacency_matrix options "
                f"{sorted(unknown)}")
        sep = body.get("separator", "&")
        if not isinstance(sep, str) or not sep:
            raise DslError(f"bad separator {sep!r}")
        named = body.get("filters")
        if not isinstance(named, dict) or not named:
            raise DslError("adjacency_matrix needs named filters")
        if any(sep in n for n in named):
            raise DslError(
                f"filter keys must not contain the separator {sep!r}")
        # ES sorts the filter keys, so intersection keys are always
        # alphabetical within the pair ("bash&early", never
        # "early&bash")
        singles = sorted(
            ((n, _filter_cond(n, clause)) for n, clause in named.items()),
            key=lambda x: x[0])
        pairs = [(f"{a}{sep}{b}", ca & cb)
                 for i, (a, ca) in enumerate(singles)
                 for b, cb in singles[i + 1:]]
        for i, (key, cond) in enumerate(
                sorted(singles + pairs, key=lambda x: x[0])):
            buckets.append((i, key, cond))
    elif kind == "date_range":
        # ES date_range: range buckets whose from/to take ISO dates or
        # DATE MATH, resolved at parse time (from inclusive / to
        # exclusive, both rounding DOWN on /unit — the gte/lt rule);
        # default keys render second-resolution "<from>-<to>" with '*'
        # for open ends (ES renders epoch-millis Z-format — the
        # engine's documented second-resolution deviation)
        unknown = set(body) - {"field", "ranges"}
        if unknown:
            raise DslError(
                f"unsupported date_range options {sorted(unknown)}")
        col = F.col(_ident(body["field"]))
        ranges = body.get("ranges")
        if not isinstance(ranges, list) or not ranges:
            raise DslError("date_range aggregation needs a ranges list")

        def _dr_bound(v, which):
            if v is None:
                return None
            t = _resolve_date_math(v, "gte")
            if isinstance(t, str):
                try:
                    t = _dt.datetime.fromisoformat(t)
                except ValueError:
                    raise DslError(
                        f"bad date_range {which} {v!r}") from None
            if not isinstance(t, _dt.datetime):
                raise DslError(f"bad date_range {which} {v!r}")
            return t

        for i, r in enumerate(ranges):
            if not isinstance(r, dict):
                raise DslError(f"bad range {r!r}")
            if set(r) - {"from", "to", "key"}:
                raise DslError(
                    f"unsupported date_range-bucket options "
                    f"{sorted(set(r) - {'from', 'to', 'key'})}")
            frm = _dr_bound(r.get("from"), "from")
            to = _dr_bound(r.get("to"), "to")
            if frm is None and to is None:
                raise DslError("date_range bucket needs from and/or to")
            cond = col.isNotNull()
            if frm is not None:
                cond = cond & (col >= F.lit(frm))
            if to is not None:
                cond = cond & (col < F.lit(to))
            key = r.get("key")
            if key is not None and not isinstance(key, str):
                raise DslError(f"bad date_range bucket key {key!r}")
            if key is None:
                key = "{}-{}".format(
                    "*" if frm is None else frm.isoformat(sep=" "),
                    "*" if to is None else to.isoformat(sep=" "))
            buckets.append((i, key, cond))
    else:  # filters
        unknown = set(body) - {"filters", "other_bucket",
                               "other_bucket_key"}
        if unknown:
            raise DslError(
                f"unsupported filters-agg options {sorted(unknown)}")
        named = body.get("filters")
        if not isinstance(named, dict) or not named:
            raise DslError("filters aggregation needs named filters")
        for i, (name, clause) in enumerate(named.items()):
            buckets.append((i, name, _filter_cond(name, clause)))
        other = body.get("other_bucket")
        okey = body.get("other_bucket_key")
        if okey is not None and not isinstance(okey, str):
            raise DslError(f"bad other_bucket_key {okey!r}")
        if other is not None and not isinstance(other, bool):
            raise DslError(f"other_bucket must be a bool, got {other!r}")
        if other is None:
            # ES: other_bucket_key implies other_bucket only when
            # other_bucket is UNSET; an explicit false suppresses it
            other = okey is not None
        if other:
            # ES: docs matching NO named filter bucket under "_other_"
            # appended after the named buckets
            buckets.append((
                len(buckets), okey or "_other_",
                ~reduce(lambda a, b: a | b, [c for _, _, c in buckets])))
    if len({k for _, k, _ in buckets}) != len(buckets):
        raise DslError(f"duplicate bucket keys in {kind} aggregation")

    tagged = F.array(*[
        F.when(cond, F.struct(F.lit(i).alias("r"), F.lit(key).alias("k")))
        for i, key, cond in buckets
    ])
    fr = (frame.withColumn("__b", F.explode(tagged))
          .where(F.col("__b").isNotNull()))
    out = (
        fr.groupBy(F.col("__b.k").alias("key"))
        .agg(F.min("__b.r").alias("__rank"),
             F.count(F.lit(1)).alias("doc_count"),
             *_metric_cols(metrics_spec,
                           {"key", "doc_count", "__rank"})[1])
        .orderBy("__rank")
        .drop("__rank")
    )
    if kind == "filters":
        # ES returns EVERY named filters bucket, empty ones at
        # doc_count 0 (metric leaves stay NULL on an empty bucket);
        # adjacency_matrix omits empty intersections, so only the
        # filters kind pins the bucket frame. The literal bucket
        # relation is bucket-count-sized — a broadcast join, never a
        # shuffle — and also covers an empty qualifying set.
        order = frame.sparkSession.createDataFrame(
            [(i, key) for i, key, _ in buckets],
            "__rank INT, key STRING")
        out = (order.join(out.withColumnRenamed("doc_count", "__dc"),
                          "key", "left")
               .withColumn("doc_count",
                           F.coalesce(F.col("__dc"), F.lit(0)))
               .drop("__dc")
               .orderBy("__rank").drop("__rank"))
        cols = ["key", "doc_count"] + [
            c for c in out.columns if c not in ("key", "doc_count")]
        out = out.select(*cols)
    return out


def _filter_cond(name: str, clause):
    """One named filter of a filters/adjacency_matrix agg -> a boolean
    Column (metadata clauses and match_all; NULL -> False)."""
    if not isinstance(clause, dict) or len(clause) != 1:
        raise DslError(f"bad filter {name!r}")
    (ck, cb), = clause.items()
    if ck == "match_all":
        return F.lit(True)
    if ck == "match_none":
        if cb != {}:
            raise DslError(f"match_none takes an empty body, got {cb!r}")
        return F.lit(False)
    if ck in ("term", "terms", "range", "exists", "prefix",
              "wildcard", "regexp", "ids"):
        return F.coalesce(F.expr(_compile_meta(ck, cb)[0]),
                          F.lit(False))
    raise DslError(
        f"filters agg supports metadata clauses, match_all and "
        f"match_none, got {ck!r}")


def _apply_top_hits(frame: DataFrame, agg_name: str, kind: str,
                    body: dict, sub: dict) -> DataFrame:
    """ES ``top_hits`` sub-aggregation: the top ``size`` documents of
    every bucket. Output is FLATTENED — one row per (bucket, hit) with
    ``key, doc_count, hit_rank`` + the requested ``_source`` columns.

    Grammar (fail-loud subset): ``{"top_hits": {"size": n, "sort":
    [{field: "asc"|"desc"}...], "_source": [cols]}}`` — ``sort`` and
    ``_source`` are REQUIRED and field-based (``_score`` ordering is
    out of grammar: the indexed executor aggregates over doc_stats
    rows, which deliberately carry no scores — same contract in both
    executors); a doc_id-ascending tiebreak is appended. top_hits must
    be the only sub-aggregation and sits under a single-level bucket
    agg.

    Scale: ONE window shuffle keyed by the bucket — per-bucket
    ``row_number`` cut map-side after the shuffle, so the post-cut
    frame is (buckets x size) rows; the bucket-level order/size then
    runs over that tiny frame, never the corpus."""
    if kind not in _BUCKET_KINDS:
        raise DslError(
            f"top_hits requires a terms/date_histogram/histogram "
            f"parent, got {kind!r}")
    if len(sub) != 1:
        raise DslError("top_hits must be the only sub-aggregation")
    (_name, spec), = sub.items()
    if set(spec) != {"top_hits"}:
        raise DslError(f"bad top_hits sub-aggregation {spec!r}")
    th = spec["top_hits"]
    if not isinstance(th, dict):
        raise DslError(f"bad top_hits body {th!r}")
    unknown = set(th) - {"size", "sort", "_source"}
    if unknown:
        raise DslError(f"unsupported top_hits options {sorted(unknown)}")
    size = _pos_int(th, "size", 3, "top_hits")  # 3: the ES default
    sort = th.get("sort")
    if not isinstance(sort, list) or not sort:
        raise DslError(
            "top_hits needs a field sort list (ES's default _score "
            "order is out of grammar: the indexed executor aggregates "
            "over score-free doc_stats rows)")
    sort_exprs = []
    for s in sort:
        if not isinstance(s, dict) or len(s) != 1:
            raise DslError(f"bad top_hits sort entry {s!r}")
        (fld, d), = s.items()
        if isinstance(d, dict):
            if set(d) != {"order"}:
                raise DslError(f"bad top_hits sort entry {s!r}")
            d = d["order"]
        if fld == "_score" or d not in ("asc", "desc"):
            raise DslError(f"bad top_hits sort entry {s!r}")
        if _ident(fld) not in frame.columns:
            raise DslError(f"top_hits sort field {fld!r} is not "
                           f"available")
        col = F.col(_ident(fld))
        sort_exprs.append(col.asc() if d == "asc" else col.desc())
    sort_exprs.append(F.asc("doc_id"))
    src = th.get("_source")
    if not isinstance(src, list) or not src \
            or not all(isinstance(c, str) for c in src):
        raise DslError("top_hits needs _source: [columns]")
    missing = [c for c in src if _ident(c) not in frame.columns]
    if missing:
        raise DslError(f"top_hits _source columns {missing} are not "
                       f"available")

    pkey, psize, porder_spec, pmdc = _bucket_key(kind, body)
    if pmdc == 0:
        # gap-filled buckets have no hits, so flattened per-hit rows
        # could not represent them — fail loud, not silently-as-1
        raise DslError(
            "min_doc_count 0 cannot combine with top_hits (empty "
            "buckets have no hit rows in the flattened output)")
    porder = _bucket_order(porder_spec, "doc_count", "key", [])
    hits = frame.where(pkey.isNotNull()).withColumn("key", pkey)
    wb = Window.partitionBy("key")
    out = (hits
           .withColumn("doc_count", F.count(F.lit(1)).over(wb))
           .withColumn("hit_rank", F.row_number().over(
               wb.orderBy(*sort_exprs)))
           .where(F.col("hit_rank") <= size)
           .select("key", "doc_count", "hit_rank",
                   *[_ident(c) for c in src]))
    if pmdc > 1:
        out = out.where(F.col("doc_count") >= pmdc)
    if psize is not None:
        # bucket-level size cut by the bucket order — dense_rank over
        # the already-cut (buckets x size) frame, the nested-agg trick
        out = (out.withColumn(
            "__brk", F.dense_rank().over(Window.orderBy(*porder)))
            .where(F.col("__brk") <= int(psize)).drop("__brk"))
    return out.orderBy(*porder, F.asc("hit_rank"))


def _apply_composite(frame: DataFrame, agg_name: str, body: dict,
                     sub: dict) -> DataFrame:
    """ES ``composite`` aggregation — the PAGINATED multi-source bucket
    agg, and the only ES way to enumerate a bucket space too large to
    return at once (exactly the 10^12-row concern: a terms agg over a
    high-cardinality key materializes every bucket; composite streams
    them in key order, ``size`` at a time, resumable via ``after``)::

        {"composite": {"sources": [{name: {"terms": {"field": f}}},
                                   ...],
                       "size": n, "after": {name: value, ...}}}

    -> one row per composite bucket: the source columns (named after
    their sources), ``doc_count``, metric sub-agg leaves; ordered by
    the source tuple ASCENDING (the ES default; per-source ``order`` /
    ``missing_bucket`` stay out-of-grammar — fail loud, not silent
    divergence). Docs NULL in ANY source drop (ES
    ``missing_bucket: false``). ``after`` keeps only buckets STRICTLY
    greater than the given tuple in lexicographic source order — pass
    the last row of a page verbatim to fetch the next page.

    One grouped aggregation per page; the ``after`` cut happens on the
    map side (a row predicate on the source columns, pushed into the
    scan), so a deep page never shuffles buckets the cursor already
    passed."""
    if not isinstance(body, dict):
        raise DslError(f"bad composite body {body!r}")
    unknown = set(body) - {"sources", "size", "after"}
    if unknown:
        raise DslError(f"unsupported composite options {sorted(unknown)}")
    srcs = body.get("sources")
    if not isinstance(srcs, list) or not srcs:
        raise DslError("composite needs a non-empty sources list")
    names: list[str] = []
    cols: list = []
    taken = {"doc_count"}
    for s in srcs:
        if not isinstance(s, dict) or len(s) != 1:
            raise DslError(f"bad composite source {s!r}")
        (nm, spec), = s.items()
        if not isinstance(spec, dict) or len(spec) != 1:
            raise DslError(f"bad composite source {nm!r}")
        (skind, sb), = spec.items()
        if skind != "terms":
            raise DslError(
                f"composite source {nm!r}: only terms sources are "
                f"supported ({skind!r} stays out-of-grammar)")
        if not isinstance(sb, dict) or set(sb) != {"field"}:
            raise DslError(
                f"composite terms source {nm!r} takes exactly a field "
                f"(order/missing_bucket stay out-of-grammar), got {sb!r}")
        fld = _ident(sb["field"])
        if fld not in frame.columns:
            raise DslError(
                f"composite source field {fld!r} is not available")
        _claim(taken, [nm])
        names.append(nm)
        cols.append(F.col(fld))
    size = _pos_int(body, "size", 10, "composite")
    metrics_spec, sub_bucket = _split_sub(sub)
    if sub_bucket is not None:
        raise DslError(
            "composite does not nest bucket sub-aggregations")

    # ES missing_bucket=false: a doc NULL in any source drops
    keep = reduce(lambda a, b: a & b, [c.isNotNull() for c in cols])
    if "after" in body:
        af = body["after"]
        if not isinstance(af, dict) or set(af) != set(names):
            raise DslError(
                f"after must give exactly the source keys {names}, "
                f"got {af!r}")
        for nm in names:
            v = af[nm]
            if isinstance(v, bool) or not isinstance(v, (str, int, float)):
                raise DslError(f"after[{nm!r}] must be a scalar, got {v!r}")
        # strictly-greater in lexicographic source order — a row
        # predicate, so the cut happens BEFORE the groupBy shuffle
        gt = F.lit(False)
        for i in range(len(names) - 1, -1, -1):
            step = cols[i] > F.lit(af[names[i]])
            for j in range(i):
                step = (cols[j] == F.lit(af[names[j]])) & step
            gt = step | gt
        keep = keep & gt
    out = (frame.where(keep)
           .groupBy(*[c.alias(nm) for c, nm in zip(cols, names)])
           .agg(F.count(F.lit(1)).alias("doc_count"),
                *_metric_cols(metrics_spec, taken)[1]))
    return out.orderBy(*[F.asc(nm) for nm in names]).limit(size)


def _apply_significant(frame: DataFrame, bg_frame: DataFrame, kind: str,
                       body: dict, sub: dict) -> DataFrame:
    """ES ``significant_terms`` / ``significant_text``: terms UNUSUALLY
    common in the query's qualifying set (foreground) relative to the
    whole index (background), scored with JLH — ES's default
    significance heuristic — ``(fgPct - bgPct) * (fgPct / bgPct)``.
    Only terms with fgPct > bgPct qualify (the ES positive-significance
    rule); ``min_doc_count`` defaults to 3 (the documented default,
    higher than terms' 1 to suppress one-off noise). Output: ``key,
    doc_count, bg_count, score`` rows, score desc / key asc, top
    ``size`` (default 10); ``shard_size`` is a safe no-op here (exact
    global counts), as on terms. The two kinds differ only in their
    term source (:func:`_keyword_counts` / :func:`_token_counts`).

    Scale: exactly one corpus pass per side — a grouped count over the
    qualifying set and one over the background, joined on the term key
    (field- or vocabulary-cardinality rows, never corpus rows). The set
    totals the percentages divide by are NOT extra passes (see the two
    counters). No per-doc state, no driver collection.

    ``background_filter`` (significant_terms only) narrows the
    background set to docs matching a metadata clause or match_all
    (the filters-agg clause grammar, :func:`_filter_cond`) — the ES
    knob for "significant vs a comparable slice, not the whole
    index". Terms absent from the FILTERED background drop (the
    fg ⊆ bg assumption the ES docs state; a background that doesn't
    contain the foreground divides by zero in ES's own arithmetic).
    The other ES heuristics (gnd/chi_square/...), text sampling and
    ``filter_duplicate_text`` stay out of grammar — fail loud."""
    metrics_spec, sub_bucket = _split_sub(sub)
    if sub_bucket is not None or metrics_spec:
        raise DslError(f"{kind} supports no sub-aggregations")
    terms = kind == "significant_terms"
    unknown = set(body) - {"field", "size", "min_doc_count", "shard_size",
                           *(("background_filter",) if terms else ())}
    if unknown:
        raise DslError(f"unsupported {kind} options {sorted(unknown)}")
    if "background_filter" in body:
        bg_frame = bg_frame.where(
            _filter_cond("background_filter", body["background_filter"]))
    fld = _ident(body.get("field", ""))
    if not fld:
        raise DslError(f"{kind} needs a field")
    size = _pos_int(body, "size", 10, kind)
    mdc = _pos_int(body, "min_doc_count", 3, kind)
    if terms:
        counts = _keyword_counts
    else:
        counts = _token_counts
        for f2 in (frame, bg_frame):
            if fld not in f2.columns:
                raise DslError(
                    f"significant_text field {fld!r} is not available "
                    f"(the compressed index stores postings, not raw "
                    f"text — pass docs_df)")
    out = (counts(frame, fld, "doc_count", "__fg_total")
           .join(counts(bg_frame, fld, "bg_count", "__bg_total"),
                 "key"))  # fg ⊆ bg: the inner join loses nothing
    fg_pct = F.col("doc_count") / F.col("__fg_total")
    bg_pct = F.col("bg_count") / F.col("__bg_total")
    out = (out.where(F.col("doc_count") >= mdc)
           .where(fg_pct > bg_pct)  # ES: positively significant only
           .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
           .drop("__fg_total", "__bg_total"))
    return out.orderBy(F.desc("score"), F.asc("key")).limit(size)


def _keyword_counts(frame: DataFrame, fld: str, cname: str, total: str):
    """significant_terms' term source: per-value doc counts of a keyword
    field, with ``total`` = the docs BEARING the field (the set ES's
    percentages compare) as an unpartitioned window sum over the BUCKET
    frame — each field-bearing doc is in exactly one bucket, so no
    corpus re-scan (plan-gated in tests/test_plans.py)."""
    f = F.col(fld)
    return (frame.where(f.isNotNull()).groupBy(f.alias("key"))
            .agg(F.count(F.lit(1)).alias(cname))
            .withColumn(total, F.sum(cname).over(Window.partitionBy())))


def _token_counts(frame: DataFrame, fld: str, cname: str, total: str):
    """significant_text's term source: ANALYZED text — per-doc DISTINCT
    token sets (a term counts once per doc, the df convention), with
    ``total`` = the token-bearing docs. The total rides the same
    explode as the term counts via a sentinel element (``"\\x00"``,
    unreachable by the analyzer's ``[a-z0-9_]+`` tokens) appended to
    every non-empty token set, then spread with an unpartitioned window
    over the bucket frame."""
    ex = F.array_distinct(tokenize_column(F.col(fld)))
    tagged = F.when(F.size(ex) > 0,
                    F.concat(ex, F.array(F.lit("\x00")))).otherwise(ex)
    g = (frame.select(F.explode(tagged).alias("key"))
         .groupBy("key").agg(F.count(F.lit(1)).alias(cname)))
    g = g.withColumn(total, F.max(F.when(F.col("key") == "\x00",
                                         F.col(cname)))
                     .over(Window.partitionBy()))
    return g.where(F.col("key") != "\x00")


def _parse_sampler(body: dict, sub: dict):
    """``sampler`` body + sub block -> (shard_size, the parsed inner
    aggregation 5-tuple). ``max_docs_per_value`` (diversified sampler)
    stays out of grammar."""
    if not isinstance(body, dict):
        raise DslError(f"bad sampler body {body!r}")
    unknown = set(body) - {"shard_size"}
    if unknown:
        raise DslError(f"unsupported sampler options {sorted(unknown)}")
    n = _pos_int(body, "shard_size", 100, "sampler")
    if not sub:
        raise DslError("sampler needs a sub-aggregation")
    return n, _parse_aggs_block({"aggs": sub})


def _parse_diversified(body: dict, sub: dict):
    """``diversified_sampler`` body + sub block -> (shard_size,
    max_docs_per_value, field, parsed inner 5-tuple). ES semantics:
    the retained sample keeps at most ``max_docs_per_value`` docs
    sharing a ``field`` value, filled in score order — equivalently,
    per-value top-m by score THEN the global top shard_size (a doc
    rejected by its value cap never blocks a lower-scored doc).
    ``execution_hint`` changes the dedup key (value vs bytes hash —
    hash collisions can alter results) and ``script`` sources stay
    out of grammar, fail-loud."""
    if not isinstance(body, dict):
        raise DslError(f"bad diversified_sampler body {body!r}")
    unknown = set(body) - {"shard_size", "max_docs_per_value", "field"}
    if unknown:
        raise DslError(
            f"unsupported diversified_sampler options {sorted(unknown)}")
    if "field" not in body or not isinstance(body["field"], str):
        raise DslError("diversified_sampler needs a field to diversify on")
    n = _pos_int(body, "shard_size", 100, "diversified_sampler")
    m = _pos_int(body, "max_docs_per_value", 1, "diversified_sampler")
    if not sub:
        raise DslError("diversified_sampler needs a sub-aggregation")
    return n, m, _ident(body["field"]), _parse_aggs_block({"aggs": sub})


def _apply_rare_terms(frame: DataFrame, agg_name: str, body: dict,
                      sub: dict) -> DataFrame:
    """ES ``rare_terms``: the long-tail buckets a ``terms`` agg ordered
    by ascending count would truncate — every term with ``doc_count <=
    max_doc_count`` (default 1), doc_count asc / key asc, NO size cut
    (the result is bounded by the rarity threshold itself). ES computes
    this with a CuckooFilter and documents false positives; the engine
    is EXACT — the same documented-deviation-in-the-user's-favor rule
    as cardinality/percentiles. Metric sub-aggs ride the one grouped
    aggregation."""
    metrics_spec, sub_bucket = _split_sub(sub)
    if sub_bucket is not None:
        raise DslError("rare_terms takes metric sub-aggs only")
    unknown = set(body) - {"field", "max_doc_count"}
    if unknown:
        raise DslError(
            f"unsupported rare_terms options {sorted(unknown)}")
    fld = _ident(body.get("field", ""))
    if not fld:
        raise DslError("rare_terms needs a field")
    mx = _pos_int(body, "max_doc_count", 1, "rare_terms")
    f = F.col(fld)
    out = (frame.where(f.isNotNull()).groupBy(f.alias("key"))
           .agg(F.count(F.lit(1)).alias("doc_count"),
                *_metric_cols(metrics_spec, {"key", "doc_count"})[1])
           .where(F.col("doc_count") <= mx))
    return out.orderBy(F.asc("doc_count"), F.asc("key"))


def _apply_agg(frame: DataFrame, agg_name: str, kind: str, body: dict,
               sub: dict, siblings: dict | None = None,
               bg_frame: DataFrame | None = None) -> DataFrame:
    """Apply one parsed aggregation to the qualifying-set frame —
    shared by the naive (:func:`dsl_aggregate`, full doc rows) and
    indexed (:func:`dsl_aggregate_indexed`, doc_stats rows) executors;
    ``frame`` just needs the referenced field columns.

    Supports ONE nested bucket level — ``date_histogram`` containing
    ``terms`` or vice versa, with metric leaves (the ES idiom for the
    reference's per-period per-type cost/count tables, reference
    src/jobsautoreport/report.py:184-225). Nested output is FLATTENED:
    one row per (parent, child) bucket with columns ``key, doc_count,
    sub_key, sub_doc_count[, metric leaves]``; parent ``doc_count``
    counts ALL parent-bucket docs (even those missing the child field —
    ES), child-less parents emit no rows (a flattening deviation,
    documented). Still one grouped aggregation at (parent, child)
    granularity — Catalyst partial-aggregates map-side, then a window
    over bucket-cardinality rows; no second corpus scan."""
    siblings = siblings or {}
    if kind == "auto_date_histogram":
        # resolve the data-dependent interval, then run the EXACT
        # date_histogram path (gap-filled: ES returns the contiguous
        # sequence); the chosen ES interval label rides along as a
        # constant column — the response adornment ES returns
        body, label = _resolve_auto_interval(frame, body)
        out = _apply_agg(frame, agg_name, "date_histogram", body, sub,
                         siblings, bg_frame)
        _claim(set(out.columns), ["interval"])
        return out.withColumn("interval", F.lit(label))
    if siblings and (kind not in _BUCKET_KINDS
                     or _split_sub(_split_pipeline(sub)[1])[1] is not None
                     or any(isinstance(v, dict) and "top_hits" in v
                            for v in sub.values())):
        raise DslError(
            "sibling pipelines need a single-level terms/histogram/"
            "date_histogram aggregation next to them")
    if kind == "missing":
        # ES `missing` bucket: docs of the qualifying set lacking the
        # field. Flattened to its doc_count (sub-aggs inside the
        # missing bucket stay out of grammar — fail loud, not silent)
        if sub:
            raise DslError(
                "missing does not support sub-aggregations")
        if not isinstance(body, dict) or set(body) != {"field"}:
            raise DslError(f"bad missing body {body!r}")
        fld = _ident(body["field"])
        if fld not in frame.columns:
            raise DslError(f"missing field {fld!r} is not available")
        return frame.agg(
            F.coalesce(F.sum(F.col(fld).isNull().cast("long")),
                       F.lit(0)).alias(agg_name))
    if kind == "global":
        # ES `global` bucket: its sub-aggs run over the WHOLE index,
        # ignoring the request's query — bg_frame is exactly that set
        # (the naive executor's corpus / the indexed doc_stats union)
        if body != {}:
            raise DslError(f"global takes an empty body, got {body!r}")
        if bg_frame is None:
            raise DslError("global is only available on full requests")
        gname, gkind, gbody, gsub, gsibs = _parse_aggs_block(
            {"aggs": sub})
        return _apply_agg(bg_frame, gname, gkind, gbody, gsub, gsibs,
                          bg_frame)
    if kind == "sampler":
        # ES sampler: the sub-agg runs over the top shard_size
        # BEST-SCORING qualifying docs (the documented speed companion
        # of significant_text). Deterministic tiebreak doc_id asc;
        # an unscored query (filter context) samples the first docs by
        # doc_id — ES leaves that order undefined. The cut is one
        # TakeOrderedAndProject; the sub-agg then sees shard_size rows.
        n, (gname, gkind, gbody, gsub, gsibs) = _parse_sampler(body, sub)
        if "__dsl_score" not in frame.columns:
            # provably-empty naive branch: a zero score keeps the cut
            # well-defined on the empty frame
            frame = frame.withColumn("__dsl_score", F.lit(0.0))
        cut = (frame.orderBy(F.desc("__dsl_score"), F.asc("doc_id"))
               .limit(n))
        return _apply_agg(cut, gname, gkind, gbody, gsub, gsibs,
                          bg_frame)
    if kind == "diversified_sampler":
        # ES diversified sampler: the sampler cut with a per-value cap
        # — per-field-value top max_docs_per_value by score (one
        # window), then the global top shard_size. NULL field values
        # form their own capped class (Lucene keys missing values
        # together too; documented here rather than left to collide).
        n, m, fld, (gname, gkind, gbody, gsub, gsibs) = \
            _parse_diversified(body, sub)
        if fld not in frame.columns:
            raise DslError(
                f"diversified_sampler field {fld!r} is not available")
        if "__dsl_score" not in frame.columns:
            frame = frame.withColumn("__dsl_score", F.lit(0.0))
        wv = (Window.partitionBy(fld)
              .orderBy(F.desc("__dsl_score"), F.asc("doc_id")))
        surv = (frame.withColumn("__dvr", F.row_number().over(wv))
                .where(F.col("__dvr") <= m).drop("__dvr"))
        cut = (surv.orderBy(F.desc("__dsl_score"), F.asc("doc_id"))
               .limit(n))
        return _apply_agg(cut, gname, gkind, gbody, gsub, gsibs,
                          bg_frame)
    if kind in ("significant_terms", "significant_text"):
        if bg_frame is None:
            raise DslError(f"{kind} is only available on full requests")
        return _apply_significant(frame, bg_frame, kind, body, sub)
    if kind == "rare_terms":
        return _apply_rare_terms(frame, agg_name, body, sub)
    metric = _METRICS.get(kind)
    if metric is not None and not sub:
        # a bare metric = the same table entry over ONE global bucket
        if metric.frame is not None:
            return metric.frame(frame, agg_name, body)
        spec = {agg_name: {kind: body}}
        frame, prepared = _prepare(frame, None, spec)
        return frame.agg(*_metric_cols(spec, set(), prepared)[1])
    if kind == "composite":
        return _apply_composite(frame, agg_name, body, sub)
    if sub and any(isinstance(v, dict) and "top_hits" in v
                   for v in sub.values()):
        return _apply_top_hits(frame, agg_name, kind, body, sub)
    if kind in ("range", "date_range", "filters", "adjacency_matrix"):
        return _apply_multibucket_agg(frame, agg_name, kind, body, sub)
    if kind not in _BUCKET_KINDS:
        raise DslError(f"aggregation type {kind!r} not supported")

    pipes, sub = _split_pipeline(sub)
    bsort = None
    for n in [n for n, (k, _) in pipes.items() if k == "bucket_sort"]:
        if bsort is not None:
            raise DslError("at most one bucket_sort per aggregation")
        bsort = pipes.pop(n)[1]
    # bucket_script/bucket_selector are per-bucket (no sequence
    # dependency) — split from the sequence pipelines, declaration
    # order preserved, applied to the FINAL bucket list post-size
    scripts = {n: pipes.pop(n) for n in
               [n for n, (k, _) in pipes.items()
                if k in ("bucket_script", "bucket_selector")]}
    metrics_spec, sub_bucket = _split_sub(sub)
    if pipes:
        if kind not in ("date_histogram", "histogram"):
            raise DslError(
                "pipeline aggregations need a histogram-family parent "
                "(ES: buckets must form a sequence)")
    if (pipes or scripts or bsort is not None) and sub_bucket is not None:
        raise DslError("pipeline aggregations cannot combine with "
                       "a nested bucket sub-aggregation")
    pkey, psize, porder_spec, pmdc = _bucket_key(kind, body)

    if sub_bucket is None:
        # ES drops docs missing the bucket field (a `missing` option has
        # already coalesced NULLs away when given); Spark's groupBy
        # would otherwise emit a NULL-key bucket ES never returns
        base, prepared = _prepare(frame.where(pkey.isNotNull()), pkey,
                                  metrics_spec)
        taken = {"key", "doc_count"}
        mcols, mexprs = _metric_cols(metrics_spec, taken, prepared)
        porder = _bucket_order(porder_spec, "doc_count", "key", mcols)
        out = (base.groupBy(pkey.alias("key"))
               .agg(F.count(F.lit(1)).alias("doc_count"), *mexprs))
        if pmdc > 1:  # ES: prune BEFORE ordering + the size cut
            out = out.where(F.col("doc_count") >= pmdc)
        elif pmdc == 0:  # histogram-family gap filling (parse-gated)
            out = _gap_fill(out, kind, body)
        if pipes:
            # ES parent pipelines run over the FINAL bucket sequence
            # (post min_doc_count). One unpartitioned window — fine at
            # any corpus scale: it sees bucket-cardinality rows (time
            # range / interval bounded), never corpus rows.
            seq = Window.orderBy(F.asc("key"))
            run = seq.rowsBetween(Window.unboundedPreceding,
                                  Window.currentRow)
            for name, (pk, pb) in pipes.items():
                _claim(taken, [name])
                path = _pipeline_path(pk, pb, mcols)
                # earlier pipelines become valid buckets_path targets
                # for later ones (ES second-order chaining, e.g. a
                # normalize over a cumulative_sum) — declaration order
                mcols = mcols + [name]
                if pk == "cumulative_sum":
                    out = out.withColumn(name, F.sum(path).over(run))
                elif pk == "cumulative_cardinality":
                    # ES: running distinct count of the referenced
                    # cardinality agg's field across the bucket
                    # sequence (ES merges HLL sketches — approximate;
                    # the engine is EXACT, the same documented
                    # deviation as `cardinality`). Not derivable from
                    # the bucket list: computed distributively as
                    # first-occurrence counts — each value charges the
                    # FIRST surviving bucket it appears in (one
                    # value-keyed shuffle + a bucket-cardinality join),
                    # then a running sum. min_doc_count-pruned buckets
                    # are excluded first (ES merges only the RESPONSE
                    # buckets' sketches, so a value whose first
                    # appearance was pruned counts at its first
                    # surviving bucket).
                    spec_m = metrics_spec.get(path)
                    if not (isinstance(spec_m, dict)
                            and set(spec_m) == {"cardinality"}):
                        raise DslError(
                            "cumulative_cardinality buckets_path must "
                            "reference a cardinality sub-aggregation")
                    cfld = _metric_col("cardinality",
                                       spec_m["cardinality"],
                                       allow_str=True)
                    rows = (frame
                            .where(pkey.isNotNull() & cfld.isNotNull())
                            .select(pkey.alias("__k"),
                                    cfld.alias("__v")))
                    if pmdc > 1:
                        rows = rows.join(
                            out.select(F.col("key").alias("__k")),
                            "__k", "left_semi")
                    news = (rows.groupBy("__v")
                            .agg(F.min("__k").alias("key"))
                            .groupBy("key")
                            .agg(F.count(F.lit(1)).alias("__cc_new")))
                    out = (out.join(news, "key", "left")
                           .withColumn(name, F.sum(
                               F.coalesce(F.col("__cc_new"),
                                          F.lit(0))).over(run))
                           .drop("__cc_new"))
                elif pk == "moving_fn":
                    fn, lo, hi = _parse_moving_fn(pb)
                    mw = seq.rowsBetween(lo, hi)
                    v = F.col(path).cast("double")
                    if fn == "sum":
                        # ES: the fold identity 0.0 is finite, so an
                        # empty window sums to 0.0 (not null)
                        col = F.coalesce(F.sum(v).over(mw), F.lit(0.0))
                    elif fn == "std":
                        # Lucene stdDev is population (sqrt(sum of
                        # squared deviations / n)), not sample
                        col = F.stddev_pop(v).over(mw)
                    else:
                        col = {"max": F.max, "min": F.min,
                               "avg": F.avg}[fn](v).over(mw)
                    out = out.withColumn(name, col)
                elif pk == "normalize":
                    # ES normalize (7.9+): per-bucket value rescaled by
                    # bucket-list statistics — one unpartitioned window
                    # over bucket-cardinality rows (never the corpus).
                    # Degenerate denominators (zero range/sum/stddev —
                    # where ES emits non-finite JSON nulls) -> NULL;
                    # NULL inputs (gap-filled buckets) stay NULL (the
                    # ES `skip` gap policy).
                    method = pb.get("method")
                    v = F.col(path).cast("double")
                    aw = seq.rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing)
                    if method == "percent_of_sum":
                        den = F.sum(v).over(aw)
                        col = F.when(den != 0, v / den)
                    elif method in ("rescale_0_1", "rescale_0_100",
                                    "mean"):
                        mn = F.min(v).over(aw)
                        rng = F.max(v).over(aw) - mn
                        num = (v - F.avg(v).over(aw)
                               if method == "mean" else v - mn)
                        col = F.when(rng != 0, num / rng)
                        if method == "rescale_0_100":
                            col = col * 100.0
                    elif method == "z-score":
                        sd = F.stddev_pop(v).over(aw)
                        col = F.when(sd != 0,
                                     (v - F.avg(v).over(aw)) / sd)
                    elif method == "softmax":
                        den = F.sum(F.exp(v)).over(aw)
                        col = F.when(den != 0, F.exp(v) / den)
                    else:
                        raise DslError(
                            f"unsupported normalize method {method!r} "
                            f"(rescale_0_1, rescale_0_100, "
                            f"percent_of_sum, mean, z-score, softmax)")
                    out = out.withColumn(name, col)
                elif pk == "serial_diff":
                    # lag-n difference (ES serial differencing); the
                    # first n buckets have no predecessor -> NULL
                    lag = _pos_int(pb, "lag", 1, "serial_diff")
                    out = out.withColumn(
                        name, F.col(path) - F.lag(path, lag).over(seq))
                else:  # derivative: ES omits the first bucket -> NULL
                    out = out.withColumn(
                        name, F.col(path) - F.lag(path).over(seq))
        out = out.orderBy(*porder)
        if psize is not None:
            out = out.limit(int(psize))
        if scripts:
            # ES: pipelines run on the reduced response — the FINAL
            # bucket list post min_doc_count/order/size. Per-bucket
            # projections/filters over bucket-cardinality rows.
            # Sequence-pipeline outputs (computed above) are valid
            # buckets_path targets, as in ES.
            for name, (pk, pb) in scripts.items():
                expr = _compile_bucket_script(pk, pb, mcols)
                if pk == "bucket_script":
                    _claim(taken, [name])
                    # painless arithmetic is double-valued
                    out = out.withColumn(
                        name, F.expr(expr).cast("double"))
                else:  # bucket_selector: false/NULL buckets drop (ES)
                    out = out.where(F.expr(expr))
            out = out.orderBy(*porder)
        if bsort is not None:
            # bucket_sort re-sorts/truncates the parent's OWN bucket
            # list (post its order/size — the list ES would return);
            # one window over bucket-cardinality rows
            keys, frm, bsize = _parse_bucket_sort(bsort, out.columns)
            order = ([F.desc(c) if d == "desc" else F.asc(c)
                      for c, d in keys] + [F.asc("key")]
                     if keys else list(porder))
            wb = Window.orderBy(*order)
            out = (out.withColumn("__bs", F.row_number().over(wb))
                   .where(F.col("__bs") > frm))
            if bsize is not None:
                out = out.where(F.col("__bs") <= frm + bsize)
            out = out.orderBy("__bs").drop("__bs")
            porder = order
        # sibling pipelines read the FINAL bucket list (post
        # min_doc_count / order / size) — exactly the buckets ES returns
        return _apply_siblings(out, siblings, agg_name, porder)

    # metric order targets resolve against THIS level's metrics — in
    # nested mode the parent has none (metrics live at the leaf), so a
    # parent metric order is out-of-grammar by construction
    porder = _bucket_order(porder_spec, "doc_count", "key", [])
    if metrics_spec:
        raise DslError(
            "metric leaves must live inside the bucket sub-aggregation")
    _sname, skind, sbody, ssub = sub_bucket
    smetrics, deeper = _split_sub(ssub)
    if deeper is not None:
        raise DslError("only one nested bucket level is supported")
    ckey, csize, corder_spec, cmdc = _bucket_key(skind, sbody)
    if pmdc == 0 or cmdc == 0:
        raise DslError(
            "min_doc_count 0 gap filling needs a single-level "
            "histogram-family aggregation (empty buckets have no "
            "(parent, child) cells in the flattened nested output)")
    cmcols, cmexprs = _metric_cols(
        smetrics, {"key", "doc_count", "sub_key", "sub_doc_count"})
    corder = _bucket_order(corder_spec, "sub_doc_count", "sub_key", cmcols)

    cells = (
        frame.where(pkey.isNotNull())  # ES: docs missing the field drop
        .groupBy(pkey.alias("key"), ckey.alias("sub_key"))
        .agg(F.count(F.lit(1)).alias("sub_doc_count"), *cmexprs)
    )
    # parent doc_count = all docs in the parent bucket, INCLUDING those
    # whose child field is NULL (their cell is dropped from the output
    # but still counts — ES parent counts are child-independent)
    cells = cells.withColumn(
        "doc_count",
        F.sum("sub_doc_count").over(Window.partitionBy("key")))
    cells = cells.where(F.col("sub_key").isNotNull())
    # min_doc_count prunes BEFORE the size cuts (ES): parent on the
    # parent's total, child on the cell count
    if pmdc > 1:
        cells = cells.where(F.col("doc_count") >= pmdc)
    if cmdc > 1:
        cells = cells.where(F.col("sub_doc_count") >= cmdc)
    if psize is not None:
        # parent-size cut via dense_rank over the AGGREGATED cells —
        # (doc_count desc, key) totally orders parents, so the rank is
        # the parent's bucket position. A distinct+semi-join branch
        # would make Catalyst re-derive cells from the corpus and scan
        # the table twice (plan-gated: exactly one corpus scan).
        wp = Window.orderBy(*porder)
        cells = (cells.withColumn("__pr", F.dense_rank().over(wp))
                 .where(F.col("__pr") <= int(psize)).drop("__pr"))
    if csize is not None:
        wc = Window.partitionBy("key").orderBy(*corder)
        cells = (cells.withColumn("__rn", F.row_number().over(wc))
                 .where(F.col("__rn") <= int(csize)).drop("__rn"))
    return (cells.select("key", "doc_count", "sub_key", "sub_doc_count",
                         *cmcols)
            .orderBy(*porder, *corder))


# --------------------------------------------------------------------------
# indexed executor: per-clause score frames from the compressed index
# --------------------------------------------------------------------------

def _clause_frame_indexed(
    segs: list,
    n_docs: int,
    avgdl: float,
    c: TextClause,
    docs_df: DataFrame | None,
) -> DataFrame | None:
    """Score-all ``(doc_id, score)`` for one text clause across index
    SEGMENTS (``len(segs) == 1`` is the monolithic case — same path),
    or None when the clause is unsatisfiable. Global df = summed
    per-segment dfs and block maxes are bound-corrected by
    ``max(1, avgdl_global/avgdl_seg)`` exactly as
    :func:`..compressed._segment_blocks` (proof there); the per-
    (segment, salt) kernel runs with NO top-k cut because clauses
    combine downstream. A positional clause keeps the candidates
    :func:`..compressed._verify_positions` proves."""
    terms = _clause_terms(c)
    if not terms or n_docs == 0:
        return None
    df_of = _df_stats_multi(segs, [term_id_py(t) for t in terms])
    match = _plan_match(terms, df_of, n_docs,
                        c.operator == "and" or c.phrase, boost=c.boost)
    if match is None:
        return None
    frame = _match_frame(segs, avgdl, match, _K_ALL)

    pc = c.positional()
    if pc is not None:
        frame = _verify_positions(segs, frame, pc, docs_df, c.field,
                                  DslError)
    return frame


# the build tokenizes exactly one column (index/build.py
# tokenized_docs): postings carry no field tag, so the indexed
# executors can answer text clauses ONLY on this field. Anything else
# must fail loud — scoring a `match` on another column against text
# postings would silently return wrong results (caught round 5 when
# query_string's field: override landed).
_INDEXED_TEXT_FIELD = "text"


def _require_indexed_field(spec: QuerySpec) -> None:
    other = ({c.field for c in spec.text_clauses()}
             | spec.fuzzy_fields() | spec.mlt_fields()) \
        - {_INDEXED_TEXT_FIELD}
    if other:
        raise DslError(
            f"the compressed index holds the {_INDEXED_TEXT_FIELD!r} "
            f"field only; text clauses target {sorted(other)} — use the "
            f"naive executor (search_dsl) for non-indexed text fields")


def _validate_sql_fields(segs: list, spec: QuerySpec) -> None:
    """Metadata predicates resolve against doc_stats — a clause naming
    a column no segment persisted would surface as an opaque Spark
    AnalysisException mid-plan; raise a friendly DslError instead (the
    same check the _search sort path applies to sort fields). A column
    present in ANY segment is fine: the union reads it as NULL
    elsewhere (allowMissingColumns)."""
    wanted = spec.all_sql_fields() - {"doc_id"}
    if not wanted:
        return
    have: set = set()
    for s in segs:
        have.update(s.table("doc_stats").columns)
    missing = sorted(wanted - have)
    if missing:
        raise DslError(
            f"metadata clauses reference field(s) {missing} not present "
            f"in any segment's doc_stats (available: {sorted(have)})")


def _doc_stats_union(segs: list) -> DataFrame:
    """Union of the segments' doc_stats (each doc lives in exactly one
    segment — the ingest dedup guarantee); attribute columns may differ
    per segment, missing ones read as null."""
    frames = [s.table("doc_stats") for s in segs]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr, allowMissingColumns=True)
    return out


def _prunable_for_topk(spec: QuerySpec) -> bool:
    """True when the top-k can run the cross-clause block-max kernel
    (:func:`..compressed._wand_bool_topk`): must/should text clauses
    (no phrase) on the indexed field, optionally with METADATA filters
    and metadata must_nots (resolved against doc_stats and co-grouped
    into the kernel as an allowed set) — no text must_not/filter
    clauses, no nested bools, and a query without must clauses needs
    msm >= 1 (msm=0 admits zero-score docs that postings cannot
    enumerate). Everything else falls back to the exact score-all path.
    """
    if (spec.filter_text or spec.must_not or spec.must_bool
            or spec.filter_bool or spec.should_bool
            or spec.must_not_bool or spec.should_sql
            or spec.must_dismax or spec.should_dismax or spec.fuzzy
            or spec.mlt or spec.terms_set
            or spec.const_boost is not None
            or spec.boosting is not None or spec.fscore is not None):
        return False
    cls = spec.must + spec.should
    if not cls or any(c.boost != 1.0 or c.positional() is not None
                      for c in cls):
        # boosted clauses take the exact score-all path: the batch
        # kernels key their stats on the raw term, and one term may
        # appear under different boosts across clauses
        return False
    if not spec.must and spec.minimum_should_match() < 1:
        return False
    return True


def _bool_clause_tids(spec: QuerySpec):
    """A prunable spec's must/should text clauses as ``[(is_must,
    conjunctive, [term_id, ...])]``, or None when the query provably
    matches nothing (an unanalyzable must, or no analyzable clause)."""
    clauses = []
    for is_must, lst in ((True, spec.must), (False, spec.should)):
        for c in lst:
            terms = _clause_terms(c)
            if terms:
                clauses.append((is_must, c.operator == "and",
                                [term_id_py(t) for t in terms]))
            elif is_must:
                return None
    return clauses or None


def _live_clauses(clauses: list, df_of: dict, msm: int):
    """Drop the terms the index lacks: a conjunctive clause missing a
    term, or a disjunctive one with none present, is dead — fatal for a
    must, dropped for a should. -> ``[(is_must, conj, sorted live
    term_ids)]``, or None when the query provably matches nothing."""
    live_clauses = []
    for is_must, conj, tl in clauses:
        if conj:
            live = sorted(set(tl)) if all(t in df_of for t in tl) else []
        else:
            live = sorted({t for t in tl if t in df_of})
        if live:
            live_clauses.append((is_must, conj, live))
        elif is_must:
            return None
    has_must = any(c[0] for c in live_clauses)
    n_should = sum(1 for c in live_clauses if not c[0])
    if (msm > 0 and n_should < msm) or (not has_must and n_should == 0):
        return None
    return live_clauses


def _bool_df_of(segs: list, specs: list[QuerySpec]) -> dict[int, int]:
    """Global df of every text-clause term of the prunable ``specs``,
    summed across segments — one fetch however many queries."""
    tids = {t for sp in specs for _, _, tl in (_bool_clause_tids(sp) or [])
            for t in tl}
    return _df_stats_multi(segs, sorted(tids))


def _plan_bool(query_id: str, spec: QuerySpec, df_of: dict, n_docs: int,
               avgdl: float, segs: list, k: int) -> _Plan | None:
    """The one planner of a prunable bool query (:func:`_prunable_for_topk`)
    -> a group-runner plan, or None when it provably matches nothing.

    The live clause arrays (:func:`_live_clauses` over ``df_of``, from
    :func:`_bool_df_of`), their idfs and the msm feed ONE cross-clause
    block-max kernel per (segment, salt) group,
    :func:`..compressed._wand_bool_topk` — a hot ``should`` term
    contributes via block-skipped decodes or is cut by the MaxScore
    suffix bound, never as a df-sized frame + shuffle. Metadata filters
    and must_nots become the plan's doc_stats filter, pushed to the
    parquet scan and co-grouped with the blocks as the allowed set
    (must_not null-guarded). Rank+score identical to the score-all path
    (pytest-gated)."""
    clauses = _bool_clause_tids(spec)
    msm = spec.minimum_should_match()
    live = None if clauses is None else _live_clauses(clauses, df_of, msm)
    if live is None:
        return None
    tids = sorted({t for _, _, tl in live for t in tl})
    idfs = {t: _idf(n_docs, df_of[t]) for t in tids}
    cl_arrays = [(m_, c_, np.array(tl, dtype=np.int64))
                 for m_, c_, tl in live]
    pred = " AND ".join(
        [f"({p})" for p in spec.filter_sql]
        + [f"NOT coalesce(({p}), false)" for p in spec.must_not_sql]) or None
    k1, b = float(segs[0].meta["k1"]), float(segs[0].meta["b"])
    return _Plan(query_id, tids, pred,
                 lambda by_term, allowed, cache: _wand_bool_topk(
                     by_term, idfs, cl_arrays, msm, k, avgdl, k1, b,
                     allowed, cache))


def search_dsl_indexed(
    spark: SparkSession,
    index_dir: str | list[str],
    query: dict,
    k: int,
    docs_df: DataFrame | None = None,
) -> DataFrame:
    """Execute an ES query dict against a compressed index — or a LIST
    of independently-built segments (the reference fans its bool
    queries over weekly ``prefix-*`` indices, main.py:70-72) — top-k
    ``(doc_id, score)``, rank-identical to :func:`search_dsl` on the
    union corpus (pytest-gated).

    Metadata predicates (term/terms/range/exists) resolve against the
    segments' ``doc_stats`` columns (``conv_id``, ``turn_idx``, ``dl``,
    plus every ride-along metadata column persisted at build time);
    positional clauses (phrase, span_near, span_first, span_not) verify
    either from the positions sidecar (every segment built with
    ``store_positions=True`` — ``docs_df`` may be None) or by re-check
    against ``docs_df`` (:func:`..compressed._verify_positions`). All
    text clauses must target the single indexed text field.
    """
    spec = parse_query(query)
    _require_indexed_field(spec)
    if k <= 0:
        return _no_hits(spark)
    loaded = _load_segments(spark, index_dir)
    _validate_sql_fields(loaded[0], spec)
    return _dsl_topk(spark, loaded, spec, k, docs_df)


def _dsl_topk(spark: SparkSession, loaded: tuple, spec: QuerySpec, k: int,
              docs_df: DataFrame | None) -> DataFrame:
    """Top-k ``(doc_id, score)`` of one validated spec over loaded
    segments: a prunable spec runs its :func:`_plan_bool` plan through
    the group runner; every other shape qualifies by score-all
    (:func:`_qualify_indexed`)."""
    segs, n_docs, avgdl = loaded
    if n_docs == 0:
        return _no_hits(spark)
    if _prunable_for_topk(spec):
        plan = _plan_bool("", spec, _bool_df_of(segs, [spec]),
                          n_docs, avgdl, segs, k)
        if plan is None:
            return _no_hits(spark)
        return (_group_frame(segs, avgdl, [plan])
                .drop("query_id")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
    anchor, scored = _qualify_indexed(segs, n_docs, avgdl, spec, docs_df)
    if anchor is None:
        return _no_hits(spark)
    order = ([F.desc("score"), F.asc("doc_id")] if scored
             else [F.asc("doc_id")])
    return anchor.orderBy(*order).limit(k)


def search_dsl_many_indexed(
    spark: SparkSession,
    index_dir: str | list[str],
    requests: list[dict],
    docs_df: DataFrame | None = None,
) -> DataFrame:
    """The ES ``_msearch`` shape against the compressed index (or a
    segment list) -> ``(query_id, doc_id, score)``, each query's block
    rank-identical to its own :func:`search_dsl_indexed` call
    (pytest-gated).

    A planner over the one group runner: every PRUNABLE query (must/
    should text clauses, with or without metadata filters and
    must_nots — see :func:`_prunable_for_topk`) is planned by
    :func:`_plan_bool` over one df fetch, and all of them run in ONE
    :func:`..compressed._group_frame` pass: one postings read for the
    union of their terms, one pushed-down doc_stats scan per distinct
    filter, and one block-decode cache per (segment, salt) group shared
    by every query — a block a hot term contributes to query A is reused
    by queries B..N. Only non-prunable shapes (phrase, text filters,
    nesting, ...) fall back to their own exact top-k and union in; the
    one per-query cut (:func:`..compressed._per_query_topk`) orders the
    whole batch."""
    qids, specs, sizes = _parse_msearch(requests)
    loaded = _load_segments(spark, index_dir)
    segs, n_docs, avgdl = loaded
    for sp in specs:
        _validate_sql_fields(segs, sp)
    if n_docs == 0:
        return spark.createDataFrame([], _ROWS)
    for sp in specs:
        _require_indexed_field(sp)
    pruned, rest = [], []
    for qid, sp in zip(qids, specs):
        if sizes[qid] > 0:
            (pruned if _prunable_for_topk(sp) else rest).append((qid, sp))
    df_of = _bool_df_of(segs, [sp for _, sp in pruned])
    plans = [p for p in (_plan_bool(qid, sp, df_of, n_docs, avgdl, segs,
                                    sizes[qid]) for qid, sp in pruned)
             if p is not None]
    frames = [_group_frame(segs, avgdl, plans)] if plans else []
    frames += [_dsl_topk(spark, loaded, sp, sizes[qid], docs_df)
               .select(F.lit(qid).alias("query_id"), "doc_id", "score")
               for qid, sp in rest]
    if not frames:
        return spark.createDataFrame([], _ROWS)
    return _per_query_topk(reduce(DataFrame.unionByName, frames), sizes)


def _resolve_from_index(segs: list, n_docs: int,
                        spec: QuerySpec) -> QuerySpec:
    """fuzzy/mlt resolution against the INDEX: fuzzy expands over the
    terms dim, mlt reads per-term df through the segment handles' df
    cache — |like-tokens| lookups, never a corpus scan."""
    if spec.has_fuzzy():
        spec = _resolve_fuzzy(spec, _terms_dim_expander(segs))
    if spec.has_mlt():
        def stats(field, terms):
            dfm = _df_stats_multi(segs, [term_id_py(t) for t in terms])
            return n_docs, {t: dfm.get(term_id_py(t), 0)
                            for t in terms}
        spec = _resolve_mlt(spec, stats)
    return spec


def _qualify_indexed(
    segs: list,
    n_docs: int,
    avgdl: float,
    spec,
    docs_df: DataFrame | None,
):
    """The bool query's QUALIFYING set from the index: -> (frame of
    ``(doc_id, score)`` or None when provably empty, scored?). Shared
    by :func:`search_dsl_indexed` (adds order + top-k) and
    :func:`dsl_aggregate_indexed` (aggregates over it, no cut). Child
    bools recurse — each nested level resolves to its own qualifying
    frame and combines by doc_id join (semi/anti/score-add), so nesting
    costs one extra postings-sized join per level, never a corpus scan.
    """
    _require_indexed_field(spec)
    spec = _resolve_from_index(segs, n_docs, spec)

    def clause_frame(c: TextClause) -> DataFrame | None:
        return _clause_frame_indexed(segs, n_docs, avgdl, c, docs_df)

    def child_qualify(child: QuerySpec):
        return _qualify_indexed(segs, n_docs, avgdl, child, docs_df)

    if spec.fscore is not None:
        # ES function_score from the index: the wrapped query resolves
        # to its own qualifying frame; the function columns join in
        # from doc_stats (one candidate-sized join, never a corpus
        # scan) and the factor/combine run as row expressions. Block-
        # max pruning stays off for this shape (_prunable_for_topk):
        # per-term score bounds don't survive arbitrary per-doc
        # factors, so exact score-all over the candidates is the
        # correct plan.
        fs = spec.fscore
        fr, wscored = _qualify_indexed(segs, n_docs, avgdl,
                                       fs.wrapped, docs_df)
        if fr is None:
            return None, False
        need = _fscore_fields(fs)
        if need:
            fr = fr.join(
                _doc_stats_union(segs).select("doc_id", *need),
                "doc_id", "left")
        wqs = F.col("score") if wscored else F.lit(1.0)
        final = _fscore_combine(wqs, _fscore_factor(fs, wqs), fs)
        fr = fr.select("doc_id", final.alias("score"))
        if fs.min_score is not None:
            fr = fr.where(F.col("score") >= F.lit(fs.min_score))
        return fr, True

    if spec.boosting is not None:
        # ES boosting from the index: positive resolves to its own
        # qualifying frame; the negative's doc set left-joins on to
        # demote scores — one postings-sized join, never a corpus scan
        pos, neg, nb = spec.boosting
        fr, scored = _qualify_indexed(segs, n_docs, avgdl, pos, docs_df)
        if fr is None:
            return None, False
        nfr, _ = _qualify_indexed(segs, n_docs, avgdl, neg, docs_df)
        if nfr is not None:
            neg_ids = nfr.select("doc_id", F.lit(True).alias("__neg"))
            fr = (fr.join(neg_ids, "doc_id", "left")
                  .select("doc_id",
                          F.when(F.coalesce(F.col("__neg"),
                                            F.lit(False)),
                                 F.col("score") * F.lit(nb))
                          .otherwise(F.col("score")).alias("score")))
        return fr, scored

    def children_union(children) -> DataFrame | None:
        parts = [fr.select("doc_id", "score")
                 for fr in map(clause_frame, children) if fr is not None]
        return reduce(DataFrame.unionByName, parts) if parts else None

    def dismax_frame(dm: DisMax) -> DataFrame | None:
        """ES dis_max from the index: union the children's score
        frames, combine per doc as best + tie_breaker * (sum - best)
        — one postings-sized aggregation, never a corpus scan."""
        u = children_union(dm.children)
        if u is None:
            return None
        agg = u.groupBy("doc_id").agg(F.max("score").alias("mx"),
                                      F.sum("score").alias("sm"))
        return agg.select(
            "doc_id",
            (F.col("mx") + F.lit(dm.tie_breaker)
             * (F.col("sm") - F.col("mx"))).alias("score"))

    def terms_set_frame(ts: TermsSetClause) -> DataFrame | None:
        """terms_set from the index: one postings frame per distinct
        term -> union -> per-doc (score sum, matched count) in ONE
        aggregation, then the per-doc minimum joins in from doc_stats
        (candidate-sized join, never a corpus scan) — the Lucene
        CoveringQuery rule exactly as the naive executor compiles it
        (truncate to long, clamp >= 1, NULL minimum never matches)."""
        u = children_union(ts.children)
        if u is None:
            return None
        agg = u.groupBy("doc_id").agg(
            F.sum("score").alias("score"),
            F.count(F.lit(1)).alias("__ts_cnt"))
        need = ((ts.msm_field,) if ts.msm_field is not None
                else ts.script_fields)
        if need:
            agg = agg.join(
                _doc_stats_union(segs).select("doc_id", *need),
                "doc_id")
        if ts.msm_script is not None:
            msm = ts.msm_script(lambda f: F.col(f).cast("double"),
                                None).cast("long")
        else:
            msm = F.col(ts.msm_field).cast("long")
        out = agg.where(
            msm.isNotNull()
            & (F.col("__ts_cnt").cast("long")
               >= F.greatest(F.lit(1).cast("long"), msm)))
        score = (F.col("score") * F.lit(ts.boost) if ts.boost != 1.0
                 else F.col("score"))
        return out.select("doc_id", score.alias("score"))

    # ---- anchor frame: must/must_bool (scores add) + filter* (semi)
    anchor: DataFrame | None = None
    child_scored = False

    def add_scoring(anchor, fr):
        fr = fr.withColumnRenamed("score", "s_")
        if anchor is None:
            return fr.withColumnRenamed("s_", "score")
        return (anchor.join(fr, "doc_id")
                .select("doc_id",
                        (F.col("score") + F.col("s_")).alias("score")))

    def add_filtering(anchor, fr):
        if anchor is None:
            return fr.select("doc_id", F.lit(0.0).alias("score"))
        return anchor.join(fr.select("doc_id"), "doc_id", "left_semi")

    for c in spec.must:
        fr = clause_frame(c)
        if fr is None:
            return None, False
        anchor = add_scoring(anchor, fr)
    for dm in spec.must_dismax:
        fr = dismax_frame(dm)
        if fr is None:
            return None, False
        anchor = add_scoring(anchor, fr)
    for child in spec.must_bool:
        fr, cs = child_qualify(child)
        if fr is None:
            return None, False
        anchor = add_scoring(anchor, fr)
        child_scored = child_scored or cs
    for c in spec.filter_text:
        fr = clause_frame(c)
        if fr is None:
            return None, False
        anchor = add_filtering(anchor, fr)
    for child in spec.filter_bool:
        fr, _ = child_qualify(child)
        if fr is None:
            return None, False
        anchor = add_filtering(anchor, fr)
    ts_scored = False
    for tctx, ts in spec.terms_set:
        if tctx in ("should", "must_not"):
            continue  # handled in their own sections below
        fr = terms_set_frame(ts)
        if fr is None:
            return None, False
        if tctx == "must":
            anchor = add_scoring(anchor, fr)
            ts_scored = True
        else:  # filter
            anchor = add_filtering(anchor, fr)

    msm = spec.minimum_should_match()

    # ---- should frames: union -> per-doc (sum, matched-count)
    should_frames = [
        fr.select("doc_id", "score") for fr in (
            [clause_frame(c) for c in spec.should]
            + [child_qualify(child)[0] for child in spec.should_bool]
            + [dismax_frame(dm) for dm in spec.should_dismax]
            + [terms_set_frame(ts) for tctx, ts in spec.terms_set
               if tctx == "should"])
        if fr is not None]
    n_scoring_should = len(should_frames)
    n_live_should = n_scoring_should + len(spec.should_sql)
    if spec.should_sql:
        # meta-in-should: resolves against doc_stats, counts toward
        # minimum_should_match at score 0 (module docstring); null-
        # guarded — a NULL field does not match the clause. ALL the
        # predicates evaluate in ONE doc_stats scan (explode over
        # per-row when() tags — one row per matched clause, exactly
        # the per-clause union the old N-scan form produced)
        tags = F.array(*[
            F.when(F.coalesce(F.expr(p), F.lit(False)), F.lit(i))
            for i, p in enumerate(spec.should_sql)])
        should_frames.append(
            _doc_stats_union(segs)
            .select("doc_id", F.explode(tags).alias("__m"))
            .where(F.col("__m").isNotNull())
            .select("doc_id", F.lit(0.0).alias("score")))
    if msm > 0 and n_live_should < msm:
        return None, False
    if should_frames:
        su = reduce(DataFrame.unionByName, should_frames)
        sagg = su.groupBy("doc_id").agg(
            F.sum("score").alias("s_sum"), F.count(F.lit(1)).alias("s_cnt"))
        if anchor is None and msm == 0:
            # explicit minimum_should_match: 0 with no anchor — ES (and
            # the naive executor) match EVERY doc; the should scores are
            # decoration. Left-join them onto the full doc set instead
            # of anchoring on the should union (ADVICE r3).
            anchor = (
                _doc_stats_union(segs).select("doc_id")
                .join(sagg, "doc_id", "left")
                .select("doc_id",
                        F.coalesce(F.col("s_sum"), F.lit(0.0))
                        .alias("score"),
                        F.coalesce(F.col("s_cnt"), F.lit(0))
                        .alias("s_cnt")))
        elif anchor is None:
            anchor = sagg.select(
                "doc_id", F.col("s_sum").alias("score"), "s_cnt")
        else:
            anchor = (anchor.join(sagg, "doc_id", "left")
                      .select("doc_id",
                              (F.col("score")
                               + F.coalesce(F.col("s_sum"), F.lit(0.0))
                               ).alias("score"),
                              F.coalesce(F.col("s_cnt"), F.lit(0))
                              .alias("s_cnt")))
        if msm > 0:
            anchor = anchor.where(F.col("s_cnt") >= msm)
        anchor = anchor.drop("s_cnt")

    scored = bool(spec.must or spec.must_dismax or n_scoring_should
                  or child_scored or ts_scored)
    if anchor is None:
        # pure filter / match_all / pure must_not / explicit msm=0 with
        # no live should: every doc qualifies at score 0
        qualifies_all = (
            spec.match_all or spec.filter_sql or spec.must_not
            or spec.must_not_sql or spec.must_not_bool
            or any(c == "must_not" for c, _ in spec.terms_set)
            or ((spec.should or spec.should_bool or spec.should_sql
                 or spec.should_dismax
                 or any(c == "should" for c, _ in spec.terms_set))
                and msm == 0))
        if not qualifies_all:
            return None, False
        anchor = _doc_stats_union(segs).select(
            "doc_id", F.lit(0.0).alias("score"))

    # ---- metadata predicates against doc_stats
    if spec.filter_sql or spec.must_not_sql:
        # must_not null-guarded: ES must_not on a missing/NULL field
        # MATCHES the doc — NOT(NULL) would silently exclude it
        pred = " AND ".join(
            [f"({p})" for p in spec.filter_sql]
            + [f"NOT coalesce(({p}), false)" for p in spec.must_not_sql])
        allowed = _doc_stats_union(segs).where(pred).select("doc_id")
        anchor = anchor.join(allowed, "doc_id", "left_semi")

    # ---- must_not text clauses / child bools: anti-join matching ids
    for fr in ([clause_frame(c) for c in spec.must_not]
               + [terms_set_frame(ts) for tctx, ts in spec.terms_set
                  if tctx == "must_not"]
               + [child_qualify(child)[0] for child in spec.must_not_bool]):
        if fr is not None:
            anchor = anchor.join(fr.select("doc_id"), "doc_id", "left_anti")

    if spec.const_boost is not None:
        # ES constant_score: the qualifying set is whatever the wrapped
        # filter resolved to above — pin every doc's score to `boost`
        return (anchor.select(
            "doc_id", F.lit(spec.const_boost).alias("score")), True)
    return anchor, scored


def dsl_aggregate_indexed(
    spark: SparkSession,
    index_dir: str | list[str],
    request: dict,
    docs_df: DataFrame | None = None,
) -> DataFrame:
    """The ES ``aggs`` block answered from the INDEX alone: the query's
    qualifying set resolves against posting blocks + ``doc_stats``
    exactly as :func:`search_dsl_indexed` (single index or segment
    list), and the aggregation fields read from ``doc_stats`` — which
    persists every non-text input column, the ES doc-values analogue —
    so the corpus is never touched. ES semantics: aggregations run over
    the FULL qualifying set (no top-k cut anywhere).

    Equals :func:`dsl_aggregate` on the union corpus (pytest-gated).
    ``docs_df`` is only consulted for ``significant_text`` (raw text)
    and for ``match_phrase`` adjacency when the segments lack the
    positions sidecar.

    At 10^12 turns this is the scale path for the reference's report
    metrics (counts/rates per week, reference src/jobsautoreport/
    main.py:70-72 + report.py): index-pruned candidate resolution +
    one grouped aggregation over doc_stats, vs a full corpus scan in
    the naive executor.
    """
    return _aggregate(_IndexBackend(spark, index_dir, docs_df), request)


def execute_request_indexed(
    spark: SparkSession,
    index_dir: str | list[str],
    request: dict,
    docs_df: DataFrame | None = None,
) -> DataFrame:
    """The ES ``_search`` endpoint shape against a compressed index (or
    segment list): ``{"query":..., "size": n, "from": m}`` pagination
    and ``aggs`` dispatch — the indexed twin of
    :func:`execute_request`, same semantics, pytest-pinned identical.
    """
    return _execute_request(_IndexBackend(spark, index_dir, docs_df),
                            request)


def scan_dsl_indexed(
    spark: SparkSession,
    index_dir: str | list[str],
    query: dict,
    docs_df: DataFrame | None = None,
) -> DataFrame:
    """The ES ``helpers.scan`` shape from the INDEX: the query's FULL
    qualifying set as ``doc_stats`` rows (doc_id, conv_id, turn_idx,
    dl + every ride-along metadata column) — the reference's primary
    access pattern (see :func:`scan_dsl`) answered without reading the
    corpus. Row set equals :func:`scan_dsl` on the union corpus
    (pytest-gated); ``docs_df`` is only consulted for ``match_phrase``
    adjacency when segments lack the positions sidecar.
    """
    return _scan(_IndexBackend(spark, index_dir, docs_df), query)


def count_dsl_indexed(
    spark: SparkSession,
    index_dir: str | list[str],
    query: dict,
    docs_df: DataFrame | None = None,
) -> DataFrame:
    """The ES ``_count`` endpoint from the INDEX: qualifying-set size
    answered from posting blocks + doc_stats, corpus never read (except
    the documented match_phrase fallback). Equal to :func:`count_dsl`
    on the union corpus (pytest-gated)."""
    return (scan_dsl_indexed(spark, index_dir, query, docs_df)
            .agg(F.count(F.lit(1)).alias("count")))
