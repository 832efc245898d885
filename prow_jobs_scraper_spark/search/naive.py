"""Naive BM25 top-k: a pure DataFrame plan, no index required.

This is the P1 slice from SURVEY.md §7 and the engine-internal oracle for
the compressed path (three-way agreement: naive == compressed == numpy
oracle). Semantics = reference's analyzed conjunctive match + BM25
(src/jobsautoreport/query.py:47-74,105-111 — ES ``match``/``operator:
and``); plan = one stats agg (n_docs, avgdl, per-term df in a single
scan) then ONE map-side scoring pass: per-term tf from an array filter
over the tokenized row (no explode, no occurrence shuffle, no join —
idfs fold in as literals), score/hit-count as row expressions →
TakeOrderedAndProject. The only exchange in the whole query is the
top-k merge; at 10^12 turns the scoring stage stays embarrassingly
parallel (measured 2× the exploded plan even at 5k docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prow_jobs_scraper_spark.functions.tokenize import tokenize_column, tokenize_text
from prow_jobs_scraper_spark.index.build import BM25Params, with_doc_ids
from prow_jobs_scraper_spark.search.compressed import (
    _conjunctive,
    _Positional,
    _positional_pred,
    _TokenPositions,
)


def naive_bm25_topk(
    docs_df: DataFrame,
    query_text: str,
    k: int,
    params: BM25Params | None = None,
    operator: str = "and",
    post_filter: str | None = None,
) -> DataFrame:
    """Top-k ``(doc_id, score)`` over a corpus frame.

    ``docs_df`` either already carries ``(doc_id, text)`` (any table with
    an int64 key — e.g. a ``documents`` table) or is a raw transcripts
    frame, in which case the engine key xxhash64(conv_id, turn_idx) is
    attached. ``operator="and"`` (the reference's ES ``match`` with
    ``operator: and``): empty 2-column frame when the query has no terms
    or any term is missing from the corpus. ``operator="or"`` (the ES
    ``match`` default): corpus-absent terms are dropped and any doc
    containing at least one surviving term qualifies.

    ``post_filter``: ES bool-query filter context — a SQL predicate over
    ``docs_df``'s columns restricting which docs may enter the top-k;
    scoring statistics (idf/avgdl/n_docs) stay corpus-global, exactly as
    an ES ``filter`` clause never affects ``match`` scores.
    """
    params = params or BM25Params()
    conjunctive = _conjunctive(operator)
    spark = docs_df.sparkSession
    q_terms = sorted(set(tokenize_text(query_text)))
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not q_terms:
        return empty

    if "doc_id" not in docs_df.columns:
        docs_df = with_doc_ids(docs_df)
    docs = docs_df.select("doc_id", tokenize_column(F.col("text")).alias("tokens"))
    # ONE stats job: corpus size, avgdl AND every query term's df come
    # from a single scan (df_t = Σ array_contains(tokens, t)) instead of
    # a scalar agg plus a separate df agg over the exploded stream
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("tokens")).alias("avgdl"),
        *[F.sum(F.array_contains("tokens", t).cast("long")).alias(f"df_{i}")
          for i, t in enumerate(q_terms)],
    ).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)
    if n_docs == 0:
        return empty
    dfs = {t: int(row[f"df_{i}"] or 0) for i, t in enumerate(q_terms)}
    if conjunctive:
        if any(dfs[t] == 0 for t in q_terms):
            return empty
    else:
        q_terms = [t for t in q_terms if dfs[t] > 0]  # OR: drop absent
        if not q_terms:
            return empty

    import math  # noqa: PLC0415

    # map-side scoring: per-term tf via an array filter over the
    # tokenized row — no explode (|occurrences| rows), no occurrence
    # shuffle, no idf join (idfs are driver-side literals). A term the
    # doc lacks contributes tf=0 -> 0 to the score, so the sum needs no
    # conditionals; hit-count drives the AND/OR predicate. post_filter
    # applies as a plain row predicate on the SAME pass (pushed to the
    # scan when it references scanned columns) — scores already carry
    # corpus-global stats, so filtering rows never changes them.
    k1, b = params.k1, params.b
    base = docs_df.withColumn("tokens", tokenize_column(F.col("text")))
    dl = F.size("tokens").cast("double")
    denom = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    score = F.lit(0.0)
    n_hit = F.lit(0)
    for t in q_terms:
        idf = math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
        # NB: single-arg lambda — a 2-arg lambda would be (element,
        # index) under pyspark's higher-order-function protocol
        tf = F.size(
            F.filter(F.col("tokens"),
                     (lambda tt: (lambda x: x == F.lit(tt)))(t))
        ).cast("double")
        score = score + F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + denom)
        n_hit = n_hit + (tf > 0).cast("int")

    scored = base.withColumn("score", score).withColumn("__nh", n_hit)
    scored = scored.where(
        F.col("__nh") == len(q_terms) if conjunctive
        else F.col("__nh") > 0)
    if post_filter:  # filter BEFORE the top-k, never the scores
        scored = scored.where(post_filter)
    return (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def naive_phrase_topk(
    docs_df: DataFrame,
    phrase_text: str,
    k: int,
    params: BM25Params | None = None,
    slop: int = 0,
) -> DataFrame:
    """Phrase match (ES ``match_phrase`` shape): top-k docs containing
    the query tokens ADJACENT and IN ORDER (``slop=0``) or within
    ``slop`` position moves (the Lucene sloppy-phrase rule —
    :func:`..compressed.sloppy_exists_expr`), scored by BM25 over the
    phrase's distinct terms (corpus-global stats, same formula as
    ``match`` — the engine's documented phrase-scoring semantics; it
    does not reproduce ES's position-based phrase frequency, and
    scoring is slop-independent).

    Qualification is a pure Catalyst predicate: at slop 0, tokens
    joined on single spaces and wrapped in sentinels, then a substring
    containment — exact because tokens never contain spaces; at
    slop > 0, the shared nested-exists positions predicate. Like the
    match path, scoring is map-side; the only exchange is the top-k
    merge.
    """
    params = params or BM25Params()
    spark = docs_df.sparkSession
    phrase_terms = tokenize_text(phrase_text)  # ordered, duplicates kept
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not phrase_terms:
        return empty

    if "doc_id" not in docs_df.columns:
        docs_df = with_doc_ids(docs_df)
    q_terms = sorted(set(phrase_terms))
    docs = docs_df.select(
        "doc_id", tokenize_column(F.col("text")).alias("tokens"))
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("tokens")).alias("avgdl"),
        *[F.sum(F.array_contains("tokens", t).cast("long")).alias(f"df_{i}")
          for i, t in enumerate(q_terms)],
    ).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)
    if n_docs == 0:
        return empty
    dfs = {t: int(row[f"df_{i}"] or 0) for i, t in enumerate(q_terms)}
    if any(dfs[t] == 0 for t in q_terms):
        return empty  # phrase implies conjunctive

    import math  # noqa: PLC0415

    k1, b = params.k1, params.b
    base = docs_df.withColumn("tokens", tokenize_column(F.col("text")))
    joined = F.concat(F.lit(" "), F.array_join("tokens", " "), F.lit(" "))
    needle = " " + " ".join(phrase_terms) + " "
    dl = F.size("tokens").cast("double")
    denom = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    score = F.lit(0.0)
    for t in q_terms:
        idf = math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
        tf = F.size(
            F.filter(F.col("tokens"),
                     (lambda tt: (lambda x: x == F.lit(tt)))(t))
        ).cast("double")
        score = score + F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + denom)
    if slop > 0:
        qualifies = _positional_pred(_TokenPositions(F.col("tokens")),
                                     _Positional(phrase_terms, slop))
    else:
        qualifies = F.instr(joined, needle) > 0
    return (
        base.where(qualifies)
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
