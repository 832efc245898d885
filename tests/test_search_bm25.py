"""The correctness heart: three-way rank-identical agreement on the
reference query set — numpy oracle == naive DataFrame path == compressed
block-max path — plus the per-turn text-equality invariant
(BASELINE.json input_hint)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from prow_jobs_scraper_spark.index.build import (
    BuildConfig,
    build_index,
    with_doc_ids,
)
from prow_jobs_scraper_spark.oracle.bm25 import bm25_oracle_topk
from prow_jobs_scraper_spark.search.compressed import search_topk
from prow_jobs_scraper_spark.search.naive import naive_bm25_topk
from prow_jobs_scraper_spark.synth import reference_query_set


@pytest.fixture(scope="module")
def oracle_docs(spark, transcripts) -> pd.DataFrame:
    """(doc_id, text) with the engine's own doc_ids — the oracle scores
    the identical corpus under the identical keys."""
    return (
        with_doc_ids(transcripts).select("doc_id", "text").toPandas()
    )


@pytest.fixture(scope="module")
def index_dir(spark, transcripts, tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("idx"))
    metrics = build_index(
        spark, transcripts, d,
        BuildConfig(n_ranges=8, n_buckets=4, n_chunks=1),
    )
    assert metrics["n_docs"] == transcripts.count()
    assert metrics["n_postings"] > 0
    return d


def _assert_rank_identical(got: pd.DataFrame, want: pd.DataFrame, label: str):
    assert len(got) == len(want), f"{label}: row count {len(got)} != {len(want)}"
    assert got["doc_id"].tolist() == want["doc_id"].tolist(), f"{label}: doc order"
    np.testing.assert_allclose(
        got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9, atol=1e-12,
        err_msg=f"{label}: scores",
    )


@pytest.mark.parametrize("q", reference_query_set(), ids=lambda q: q["query_id"])
def test_three_way_agreement(spark, transcripts, oracle_docs, index_dir, q):
    want = bm25_oracle_topk(oracle_docs, q["query_text"], q["k"])
    naive = naive_bm25_topk(transcripts, q["query_text"], q["k"]).toPandas()
    _assert_rank_identical(naive, want, f"naive:{q['query_id']}")
    comp = search_topk(spark, index_dir, q["query_text"], q["k"]).toPandas()
    _assert_rank_identical(comp, want, f"compressed:{q['query_id']}")


def test_per_turn_text_equality(spark, transcripts, index_dir):
    """input_hint invariant: engine round-trip preserves per-turn text
    under stable (conv_id, turn_idx) ordering. doc_stats is the engine's
    doc map; joining it back to the source must reproduce every turn."""
    doc_stats = spark.read.parquet(f"{index_dir}/doc_stats")
    src = with_doc_ids(transcripts)
    joined = src.join(doc_stats.select("doc_id", F.col("conv_id").alias("c2"),
                                       F.col("turn_idx").alias("t2")),
                      "doc_id", "inner")
    n_src = transcripts.count()
    assert joined.count() == n_src
    mismatches = joined.where(
        (F.col("conv_id") != F.col("c2")) | (F.col("turn_idx") != F.col("t2"))
    ).count()
    assert mismatches == 0
    # stable ordering round-trip: texts in (conv_id, turn_idx) order match
    a = transcripts.orderBy("conv_id", "turn_idx").select("text").toPandas()
    b = (src.join(doc_stats.select("doc_id"), "doc_id")
            .orderBy("conv_id", "turn_idx").select("text").toPandas())
    assert a["text"].tolist() == b["text"].tolist()


def test_topk_is_truncation_of_larger_k(spark, index_dir):
    small = search_topk(spark, index_dir, "spark", 5).toPandas()
    big = search_topk(spark, index_dir, "spark", 10).toPandas()
    assert small["doc_id"].tolist() == big["doc_id"].tolist()[:5]


def test_batch_search_matches_single(spark, transcripts, tmp_path):
    from prow_jobs_scraper_spark.index.build import BuildConfig, build_index
    from prow_jobs_scraper_spark.search.compressed import (
        search_topk,
        search_topk_many,
    )
    from prow_jobs_scraper_spark.synth import reference_query_set

    d = str(tmp_path / "batch_idx")
    build_index(spark, transcripts, d, BuildConfig(n_ranges=8, n_buckets=4))
    qs = reference_query_set()
    batch = search_topk_many(spark, d, qs).toPandas()
    for q in qs:
        single = search_topk(spark, d, q["query_text"], q["k"]).toPandas()
        got = (batch[batch["query_id"] == q["query_id"]]
               .sort_values(["score", "doc_id"], ascending=[False, True])
               .reset_index(drop=True))
        assert got["doc_id"].tolist() == single["doc_id"].tolist(), q
        assert got["score"].tolist() == single["score"].tolist(), q


@pytest.mark.parametrize("q", reference_query_set(), ids=lambda q: q["query_id"])
def test_three_way_agreement_disjunctive(spark, transcripts, oracle_docs,
                                         index_dir, q):
    # operator: or (the ES `match` default) — same three-way
    # rank-identity contract as the conjunctive suite, now including the
    # hot+rare and partially-missing-term shapes where WAND pruning and
    # absent-term dropping actually engage
    want = bm25_oracle_topk(oracle_docs, q["query_text"], q["k"],
                            operator="or")
    naive = naive_bm25_topk(transcripts, q["query_text"], q["k"],
                            operator="or").toPandas()
    _assert_rank_identical(naive, want, f"naive-or:{q['query_id']}")
    comp = search_topk(spark, index_dir, q["query_text"], q["k"],
                       operator="or").toPandas()
    _assert_rank_identical(comp, want, f"compressed-or:{q['query_id']}")


def test_disjunctive_partially_missing_term(spark, transcripts, oracle_docs,
                                            index_dir):
    # one real term + one corpus-absent term: AND -> empty, OR -> the
    # real term's results
    q = "the_hot_term zzz_never_appears"
    assert search_topk(spark, index_dir, q, 10).count() == 0
    got = search_topk(spark, index_dir, q, 10, operator="or").toPandas()
    want = bm25_oracle_topk(oracle_docs, q, 10, operator="or")
    _assert_rank_identical(got, want, "or-partial-missing")
    assert len(got) == 10


def test_wand_prunes_block_decodes(spark, transcripts, tmp_path,
                                   monkeypatch):
    # WAND must NOT decode every posting block for a hot+rare OR query:
    # the rare term's high-idf intervals fill the top-k first and the
    # hot-only intervals bound below the k-th score. Build a SINGLE-salt
    # index with small blocks so the hot term has many blocks, then count
    # bulk-decode calls through the kernel directly (applyInPandas runs
    # in workers, so exercise the kernel driver-side on collected blocks).
    import json as _json
    import math as _math

    import prow_jobs_scraper_spark.search.compressed as C
    from prow_jobs_scraper_spark.functions.xxh64 import term_id_py

    d = str(tmp_path / "wand_idx")
    build_index(spark, transcripts, d,
                BuildConfig(n_ranges=1, n_buckets=2, block_size=16))
    paths = C.IndexPaths(d)
    with open(paths.meta) as f:
        meta = _json.load(f)
    # the_hot_term: df ~1766/2000 (idf ~0.13); w01000: df 4 (idf ~6.1)
    # -> after the rare term seeds candidates, the k-th score exceeds
    # the hot term's entire upper bound and its list is never walked
    tids = {t: term_id_py(t) for t in ("the_hot_term", "w01000")}
    blocks = (
        spark.read.parquet(paths.postings)
        .where(C.F.col("term_id").isin(list(tids.values())))
        .toPandas()
    )
    total_blocks = len(blocks)
    assert total_blocks > 20, "fixture too small to demonstrate pruning"
    stats = spark.read.parquet(paths.term_stats).where(
        C.F.col("term_id").isin(list(tids.values()))).collect()
    dfs = {int(r["term_id"]): int(r["df"]) for r in stats}
    n = meta["n_docs"]
    idfs = {tid: _math.log(1.0 + (n - dfs[tid] + 0.5) / (dfs[tid] + 0.5))
            for tid in dfs}

    calls = {"n_blocks": 0}
    real = C.codec.decode_blocks_bulk

    def counting(n_docs, *a, **kw):
        calls["n_blocks"] += len(n_docs)
        return real(n_docs, *a, **kw)

    monkeypatch.setattr(C.codec, "decode_blocks_bulk", counting)
    by_term = {t: g for t, g in blocks.groupby("term_id")}
    # an OR match is the MaxScore arm: one should clause, msm=1
    clause = [(False, False, np.array(list(tids.values())))]
    ids, scores = C._wand_bool_topk(by_term, idfs, clause, 1, 3,
                                    meta["avgdl"], meta["k1"], meta["b"])
    assert ids.size == 3
    assert calls["n_blocks"] < total_blocks * 0.6, (
        f"WAND pruning ineffective ({calls['n_blocks']}/{total_blocks})")


def test_batch_search_or_matches_single(spark, transcripts, tmp_path):
    from prow_jobs_scraper_spark.search.compressed import (
        search_topk,
        search_topk_many,
    )

    d = str(tmp_path / "batch_or_idx")
    build_index(spark, transcripts, d, BuildConfig(n_ranges=8, n_buckets=4))
    qs = [
        {"query_id": "or-1", "query_text": "the_hot_term w01000", "k": 10,
         "operator": "or"},
        {"query_id": "or-2", "query_text": "spark zzz_never_appears",
         "k": 5, "operator": "or"},
        {"query_id": "and-1", "query_text": "spark agent", "k": 10},
    ]
    batch = search_topk_many(spark, d, qs).toPandas()
    for q in qs:
        single = search_topk(spark, d, q["query_text"], q["k"],
                             operator=q.get("operator", "and")).toPandas()
        got = batch[batch["query_id"] == q["query_id"]].reset_index(drop=True)
        assert got["doc_id"].tolist() == single["doc_id"].tolist(), q
        assert got["score"].tolist() == single["score"].tolist(), q


def test_multi_segment_search_matches_single_index(
        spark, transcripts, oracle_docs, index_dir, tmp_path):
    # incremental maintenance: corpus split into two independently-built
    # segments must answer rank- AND score-identical to the one-segment
    # index (global n_docs/avgdl/df reconstructed exactly), under both
    # operators, including a query whose terms live in both halves
    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.search.compressed import (
        search_topk,
        search_topk_multi,
    )

    # pmod: Spark's % is signed, a plain %2==1 would drop negative hashes
    half_a = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    assert half_a.count() + half_b.count() == transcripts.count()
    da, db = str(tmp_path / "seg_a"), str(tmp_path / "seg_b")
    build_index(spark, half_a, da, BuildConfig(n_ranges=8, n_buckets=4))
    # different layout on purpose: segments need not agree on buckets
    build_index(spark, half_b, db, BuildConfig(n_ranges=4, n_buckets=2))

    for q in reference_query_set()[:6]:
        single = search_topk(spark, index_dir, q["query_text"],
                             q["k"]).toPandas()
        multi = search_topk_multi(spark, [da, db], q["query_text"],
                                  q["k"]).toPandas()
        _assert_rank_identical(multi, single,
                               f"multi-and:{q['query_id']}")
    # disjunctive across segments, vs the numpy oracle directly
    q = "the_hot_term w01000"
    want = bm25_oracle_topk(oracle_docs, q, 10, operator="or")
    multi = search_topk_multi(spark, [da, db], q, 10,
                              operator="or").toPandas()
    _assert_rank_identical(multi, want, "multi-or")


def test_or_agreement_on_second_corpus_with_edge_docs(spark, tmp_path):
    # different corpus seed + adversarial rows (empty text, single-token
    # doc, doc repeating one term many times) — OR path must stay
    # rank-identical to the numpy oracle on mixed hot/rare/missing
    # queries; guards MaxScore edge shapes the reference query set
    # doesn't hit (term present in only one salt, candidate list of 1)
    import pandas as pd

    from prow_jobs_scraper_spark.synth import synth_transcripts_pandas

    pdf = synth_transcripts_pandas(1500, seed=7)
    extra = pd.DataFrame([
        {"conv_id": "edge", "turn_idx": 0, "role": "user", "text": "",
         "tool": None, "ts": pdf["ts"].iloc[0]},
        {"conv_id": "edge", "turn_idx": 1, "role": "user",
         "text": "solitary", "tool": None, "ts": pdf["ts"].iloc[1]},
        {"conv_id": "edge", "turn_idx": 2, "role": "user",
         "text": ("repeated " * 40).strip(), "tool": None,
         "ts": pdf["ts"].iloc[2]},
    ])
    pdf = pd.concat([pdf, extra], ignore_index=True)
    t = spark.createDataFrame(pdf)
    t = t.withColumn("ts", t["ts"].cast("timestamp"))

    d = str(tmp_path / "edge_idx")
    build_index(spark, t, d, BuildConfig(n_ranges=4, n_buckets=2))
    docs = with_doc_ids(t).select("doc_id", "text").toPandas()

    queries = [
        "solitary",                      # df=1 term
        "repeated spark",                # single-doc term + hot term
        "solitary zzz_nope",             # OR keeps the present term
        "spark agent tool_call",         # three hot terms
        "repeated solitary",             # two singleton-ish terms
    ]
    for qt in queries:
        for op in ("and", "or"):
            want = bm25_oracle_topk(docs, qt, 10, operator=op)
            got = search_topk(spark, d, qt, 10, operator=op).toPandas()
            _assert_rank_identical(got, want, f"{op}:{qt}")


def test_filtered_search_matches_filtered_oracle(spark, transcripts,
                                                 index_dir):
    # ES bool-query parity: match + metadata filter in one top-k.
    # Scoring stats stay corpus-global (ES filter context), the filter
    # only restricts which docs may enter the top-k — so the oracle is
    # "score the FULL corpus, then keep allowed docs, then head(k)".
    import pandas as pd

    from prow_jobs_scraper_spark.search.compressed import (
        search_topk_filtered,
    )

    full = with_doc_ids(transcripts).select(
        "doc_id", "text", "ts", "role").toPandas()
    t_lo = full["ts"].quantile(0.25)
    t_hi = full["ts"].quantile(0.75)
    doc_filter = (
        f"role = 'assistant' AND ts >= timestamp'{t_lo}' "
        f"AND ts < timestamp'{t_hi}'"
    )
    allowed = set(full[(full.role == "assistant")
                       & (full.ts >= t_lo) & (full.ts < t_hi)]["doc_id"])
    assert 0 < len(allowed) < len(full)

    for qt, op in [("spark agent", "and"), ("the_hot_term", "and"),
                   ("the_hot_term w01000", "or")]:
        scored = bm25_oracle_topk(full[["doc_id", "text"]], qt,
                                  len(full), operator=op)
        want = scored[scored["doc_id"].isin(allowed)].head(10).reset_index(
            drop=True)
        got = search_topk_filtered(spark, index_dir, qt, 10, doc_filter,
                                   operator=op).toPandas()
        _assert_rank_identical(got, want, f"filtered-{op}:{qt}")

    # filter that excludes everything -> empty, not an error
    none = search_topk_filtered(spark, index_dir, "spark", 5,
                                "role = 'no_such_role'")
    assert none.count() == 0


def test_filtered_multi_segment_matches_filtered_single(
        spark, transcripts, index_dir, tmp_path):
    # the reference's REAL production query: match + filter fanned out
    # over weekly indices (src/jobsautoreport/main.py:70-72 +
    # query.py:28-99) — filtered retrieval ACROSS segments must be
    # rank- and score-identical to filtered search on the one-segment
    # index (corpus-global stats, per-segment allowed-id cogroups)
    from prow_jobs_scraper_spark.search.compressed import (
        search_topk_filtered,
        search_topk_multi,
    )

    half_a = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    da, db = str(tmp_path / "fseg_a"), str(tmp_path / "fseg_b")
    build_index(spark, half_a, da, BuildConfig(n_ranges=8, n_buckets=4))
    # segments deliberately disagree on layout (buckets AND salts)
    build_index(spark, half_b, db, BuildConfig(n_ranges=4, n_buckets=2))

    full = with_doc_ids(transcripts).select("ts").toPandas()
    t_lo, t_hi = full["ts"].quantile(0.25), full["ts"].quantile(0.75)
    doc_filter = (
        f"role = 'assistant' AND ts >= timestamp'{t_lo}' "
        f"AND ts < timestamp'{t_hi}'"
    )
    for qt, op in [("spark agent", "and"), ("the_hot_term", "and"),
                   ("the_hot_term w01000", "or")]:
        want = search_topk_filtered(spark, index_dir, qt, 10, doc_filter,
                                    operator=op).toPandas()
        got = search_topk_multi(spark, [da, db], qt, 10, operator=op,
                                doc_filter=doc_filter).toPandas()
        _assert_rank_identical(got, want, f"filtered-multi-{op}:{qt}")

    # all-excluding filter across segments -> empty, not an error
    none = search_topk_multi(spark, [da, db], "spark", 5,
                             doc_filter="role = 'no_such_role'")
    assert none.count() == 0


def test_phrase_search_naive_vs_compressed(spark, transcripts, oracle_docs,
                                           index_dir):
    # ES match_phrase shape: adjacency-in-order gating, BM25-over-terms
    # scoring. Compressed path (index candidates -> corpus adjacency
    # re-check) must be rank- and score-identical to the naive
    # DataFrame plan, including the duplicate-token phrase (one unique
    # term, adjacency still binding) and a never-adjacent pair.
    import re

    from prow_jobs_scraper_spark.search.compressed import search_phrase
    from prow_jobs_scraper_spark.search.naive import naive_phrase_topk

    for phrase in ("the_hot_term spark", "w04999 w04999", "spark agent",
                   "zzz_missing spark"):
        want = naive_phrase_topk(transcripts, phrase, 10).toPandas()
        got = search_phrase(spark, index_dir, transcripts, phrase,
                            10).toPandas()
        _assert_rank_identical(got, want, f"phrase:{phrase}")

    # ground-truth adjacency check against raw python tokenization
    got = search_phrase(spark, index_dir, transcripts,
                        "the_hot_term spark", 10).toPandas()
    assert len(got) == 10
    texts = dict(oracle_docs[["doc_id", "text"]].itertuples(index=False))
    for did in got["doc_id"]:
        toks = re.findall(r"[a-z0-9_]+", texts[did].lower())
        assert ("the_hot_term", "spark") in set(zip(toks, toks[1:])), did

    # phrase matches are a subset of the conjunctive match candidates
    full_match = search_topk(spark, index_dir, "the_hot_term spark",
                             10_000).toPandas()
    assert set(got["doc_id"]) <= set(full_match["doc_id"])


def test_phrase_search_from_positions_sidecar(spark, transcripts,
                                              tmp_path_factory):
    # ES index_options=positions / Lucene .pos: an index built with
    # store_positions=True answers match_phrase WITHOUT touching the
    # corpus (docs_df=None) — rank- and score-identical to both the
    # naive plan and the corpus-recheck path, including a duplicate
    # -token phrase and a 3-term phrase.
    from prow_jobs_scraper_spark.search.compressed import search_phrase
    from prow_jobs_scraper_spark.search.naive import naive_phrase_topk

    d = str(tmp_path_factory.mktemp("idx_pos"))
    build_index(
        spark, transcripts, d,
        BuildConfig(n_ranges=8, n_buckets=4, n_chunks=2,
                    store_positions=True),
    )
    for phrase in ("the_hot_term spark", "w04999 w04999", "spark agent",
                   "zzz_missing spark", "the the_hot_term spark"):
        want = naive_phrase_topk(transcripts, phrase, 10).toPandas()
        got = search_phrase(spark, d, None, phrase, 10).toPandas()
        _assert_rank_identical(got, want, f"pos-phrase:{phrase}")
        rechk = search_phrase(spark, d, transcripts, phrase, 10).toPandas()
        _assert_rank_identical(got, rechk, f"pos-vs-recheck:{phrase}")

    # an index WITHOUT positions must refuse docs_df=None loudly
    d2 = str(tmp_path_factory.mktemp("idx_nopos"))
    build_index(spark, transcripts, d2,
                BuildConfig(n_ranges=8, n_buckets=4, n_chunks=1))
    with pytest.raises(ValueError, match="store_positions"):
        search_phrase(spark, d2, None, "spark agent", 5)
    # ...and so must a segment list whose LATER segment lacks them
    with pytest.raises(ValueError, match="store_positions"):
        search_phrase(spark, [d, d2], None, "spark agent", 5)


def test_batch_search_with_per_query_filters(spark, transcripts, index_dir):
    # the reference's report issues MANY match+filter queries per run
    # (main.py:70-72 loops query.py's bool shapes) — the batch path must
    # answer each (query, filter) pair identically to the one-at-a-time
    # filtered search, with distinct filters sharing one doc_stats scan
    from prow_jobs_scraper_spark.search.compressed import (
        search_topk,
        search_topk_filtered,
        search_topk_many,
    )

    f1 = "role = 'assistant'"
    f2 = "role = 'user'"
    qs = [
        {"query_id": "a", "query_text": "spark agent", "k": 5,
         "doc_filter": f1},
        {"query_id": "b", "query_text": "the_hot_term", "k": 7,
         "operator": "or", "doc_filter": f2},
        {"query_id": "c", "query_text": "spark agent", "k": 5},  # no filter
        {"query_id": "d", "query_text": "the_hot_term w01000", "k": 5,
         "operator": "or", "doc_filter": f1},
        {"query_id": "e", "query_text": "spark", "k": 4,
         "doc_filter": "role = 'no_such_role'"},  # excludes all docs
    ]
    batch = search_topk_many(spark, index_dir, qs).toPandas()

    singles = {
        "a": search_topk_filtered(spark, index_dir, "spark agent", 5, f1),
        "b": search_topk_filtered(spark, index_dir, "the_hot_term", 7, f2,
                                  operator="or"),
        "c": search_topk(spark, index_dir, "spark agent", 5),
        "d": search_topk_filtered(spark, index_dir, "the_hot_term w01000",
                                  5, f1, operator="or"),
    }
    for qid, df in singles.items():
        want = df.toPandas()
        got = batch[batch["query_id"] == qid].reset_index(drop=True)
        _assert_rank_identical(got, want, f"batch-filtered:{qid}")
        assert len(got) > 0, qid
    assert (batch["query_id"] == "e").sum() == 0  # all-excluding filter


def test_df_cache_overflow_refetches_current_query(spark, transcripts,
                                                   oracle_docs, index_dir,
                                                   monkeypatch):
    """Regression (ADVICE r3): when a segment handle's df term cap
    trips, the clear must not starve terms of the CURRENT query that
    were already cached — a stale ``missing`` list turned them into
    df=0 and an AND query silently returned empty."""
    from prow_jobs_scraper_spark.search import compressed as C

    # Warm the handle with one term, then issue an AND query mixing that
    # cached term with an uncached one, sized so the fetch overflows:
    # the clear used to wipe the cached term while only the uncached one
    # was re-fetched -> cached term served as df=0 -> empty result.
    C._SEGMENTS.clear()
    search_topk(spark, index_dir, "w00042", 3).collect()
    assert len(C._open_segment(spark, index_dir).df) >= 1
    monkeypatch.setattr(C, "_MAX_DF_TERMS", 1)
    mixed = "w00042 w00099"  # cached + uncached
    want = bm25_oracle_topk(oracle_docs, mixed, k=10)
    got = search_topk(spark, index_dir, mixed, 10).toPandas()
    assert len(got) > 0, "AND query starved by the cache clear"
    _assert_rank_identical(got, want, "post-overflow")
    C._SEGMENTS.clear()


def test_batch_search_rejects_duplicate_query_id(spark, index_dir):
    # a later query must not silently replace an earlier one under the
    # same id (the _msearch parser's rule)
    from prow_jobs_scraper_spark.search.compressed import search_topk_many

    qs = [{"query_id": "q", "query_text": "spark", "k": 3},
          {"query_id": "q", "query_text": "agent", "k": 5}]
    with pytest.raises(ValueError, match="duplicate query_id 'q'"):
        search_topk_many(spark, index_dir, qs)
    # a negative k must not silently return no rows (the _msearch rule)
    with pytest.raises(ValueError, match="k must be non-negative"):
        search_topk_many(spark, index_dir, [
            {"query_id": "a", "query_text": "spark", "k": 3},
            {"query_id": "b", "query_text": "agent", "k": -1}])
    # a misspelt key (here `filter` for `doc_filter`) must not silently
    # run the query unfiltered (the _msearch parser's rule)
    with pytest.raises(ValueError,
                       match=r"unsupported query keys \['filter'\]"):
        search_topk_many(spark, index_dir, [
            {"query_id": "a", "query_text": "spark", "k": 3,
             "filter": "role = 'assistant'"}])


def test_match_operator_fails_loud(spark, transcripts, index_dir):
    # only "and" / "or" are operators: "AND" (or a typo) must raise on
    # every match path instead of silently running as a disjunction
    from prow_jobs_scraper_spark.search.compressed import (
        search_topk_filtered,
        search_topk_many,
        search_topk_multi,
    )

    bad = "AND"
    calls = [
        lambda: search_topk(spark, index_dir, "spark agent", 5, bad),
        lambda: search_topk_filtered(spark, index_dir, "spark agent", 5,
                                     "role = 'assistant'", bad),
        lambda: search_topk_multi(spark, [index_dir], "spark agent", 5, bad),
        lambda: search_topk_many(spark, index_dir, [
            {"query_id": "a", "query_text": "spark", "k": 3},
            {"query_id": "b", "query_text": "spark agent", "k": 3,
             "operator": bad}]),
        lambda: naive_bm25_topk(transcripts, "spark agent", 5, operator=bad),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="operator 'AND'"):
            call()


def _segment_copy(index_dir: str, dest: str, **meta_overrides) -> str:
    """A second segment: a byte copy of ``index_dir`` under a new root,
    meta.json patched with ``meta_overrides``."""
    import json as _json
    import shutil

    shutil.copytree(index_dir, dest)
    meta_path = f"{dest}/meta.json"
    with open(meta_path) as f:
        meta = _json.load(f)
    meta.update(meta_overrides)
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    return dest


def test_multi_segment_df_fetch_goes_through_cache(spark, index_dir,
                                                   tmp_path):
    # one search_topk_multi query leaves the query's df in EVERY
    # segment's handle, so a warm repeat runs no term_stats job
    from prow_jobs_scraper_spark.functions.xxh64 import term_id_py
    from prow_jobs_scraper_spark.search import compressed as C

    seg_b = _segment_copy(index_dir, str(tmp_path / "seg_b"))
    C._SEGMENTS.clear()
    C.search_topk_multi(spark, [index_dir, seg_b], "spark agent",
                        5).collect()
    assert len(C._SEGMENTS) == 2
    for d in (index_dir, seg_b):
        df = C._open_segment(spark, d).df
        assert {term_id_py("spark"), term_id_py("agent")} <= set(df), d
    assert len(C._SEGMENTS) == 2  # the same commits: no handle reopened
    C._SEGMENTS.clear()


def test_segments_disagreeing_on_bm25_params_fail_loud(spark, index_dir,
                                                       tmp_path):
    # per-segment scores under different k1/b cannot be merged into one
    # ranking: both multi-segment entry points refuse
    from prow_jobs_scraper_spark.search.compressed import search_topk_multi
    from prow_jobs_scraper_spark.search.dsl import search_dsl_indexed

    seg_b = _segment_copy(index_dir, str(tmp_path / "seg_k1"), k1=2.0)
    with pytest.raises(ValueError, match="segments disagree on BM25 params"):
        search_topk_multi(spark, [index_dir, seg_b], "spark", 5)
    with pytest.raises(ValueError, match="segments disagree on BM25 params"):
        search_dsl_indexed(spark, [index_dir, seg_b],
                           {"match": {"text": "spark"}}, 5)
