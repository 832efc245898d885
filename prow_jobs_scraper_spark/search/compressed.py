"""Compressed-index BM25 top-k with block skipping + block-max pruning.

Query lifecycle (cf. SURVEY.md §3.2 "ours"):

1. analyze the query with the engine tokenizer (same as index build);
2. broadcast-size lookup of the query terms in ``term_stats`` (term-bucket
   ``tb`` directory pruning + Parquet min/max on ``term``) — conjunctive
   semantics: any missing term short-circuits to an empty result;
3. scan only the matching posting blocks (again tb-pruned);
4. one distributed scoring pass grouped by ``salt`` — every term's
   postings were range-partitioned on the SAME doc-id ranges at build
   time, so each salt group holds all query terms' postings for one doc
   range: a co-partitioned conjunctive merge with zero replication;
5. per-salt numpy kernel: decode the rarest term, then for each further
   term decode only blocks whose [first_doc_id, last_doc_id] span touches
   surviving candidates (searchsorted block skipping); single-term queries
   process blocks in descending block-max order and stop once the k-th
   score exceeds the next block's upper bound (block-max pruning);
6. local top-k per salt → global ``orderBy(score desc, doc_id).limit(k)``
   (TakeOrderedAndProject).

Rank-identity: float64 everywhere, same formula and tie order as the
naive path and the numpy oracle (three-way agreement enforced in tests).
"""

from __future__ import annotations

import json
import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prow_jobs_scraper_spark.functions.tokenize import tokenize_text
from prow_jobs_scraper_spark.functions.xxh64 import term_id_py
from prow_jobs_scraper_spark.index import codec
from prow_jobs_scraper_spark.index.build import IndexPaths, salt_expr

# Driver-side df-stats cache: repeated queries against the same BUILT
# index re-fetch only terms not seen before, and a fully-warm query
# skips the term_stats Spark job entirely (the ES analogue: node-level
# request/query caches). Correctness: entries are keyed by the index's
# IDENTITY — (root, build_id, fingerprint, n_docs) from meta.json — so
# any rebuild, compaction or incremental re-ingest that rewrites meta
# invalidates naturally; df values for a committed build are immutable
# by construction (build.py writes term_stats once per bucket). A 0
# entry is a negative cache (term absent from the corpus).
_DF_CACHE: dict[tuple, dict[int, int]] = {}
_DF_CACHE_MAX_IDS = 64       # distinct index identities kept
_DF_CACHE_MAX_TERMS = 1 << 20  # per identity; queried terms only


def _index_identity(paths: IndexPaths, meta: dict) -> tuple:
    return (paths.root, str(meta.get("build_id")),
            int(meta.get("fingerprint", 0)), int(meta["n_docs"]))


def _df_stats(
    spark: SparkSession,
    paths: IndexPaths,
    meta: dict,
    term_ids: list[int],
    n_buckets: int,
) -> dict[int, int]:
    """df per term_id from term_stats, through the cache -> only terms
    PRESENT in the corpus appear in the result (same contract as the
    inline fetch this replaces)."""
    key = _index_identity(paths, meta)
    if key not in _DF_CACHE and len(_DF_CACHE) >= _DF_CACHE_MAX_IDS:
        _DF_CACHE.clear()
    cached = _DF_CACHE.setdefault(key, {})
    missing = [t for t in term_ids if t not in cached]
    if missing:
        if len(cached) + len(missing) > _DF_CACHE_MAX_TERMS:
            # The clear wipes entries for terms of THIS query that were
            # cached; re-derive ``missing`` from the full request so no
            # term in this call is served from the wiped cache (a stale
            # ``missing`` would silently treat those terms as df=0 —
            # AND/phrase queries would wrongly return empty).
            cached.clear()
            missing = list(dict.fromkeys(term_ids))
        buckets = sorted({t % n_buckets for t in missing})
        rows = (
            spark.read.parquet(paths.term_stats)
            .where(F.col("tb").isin(buckets)
                   & F.col("term_id").isin(missing))
            .select("term_id", "df").collect()
        )
        for r in rows:
            cached[int(r["term_id"])] = int(r["df"])
        for t in missing:  # negative entries: absent terms stay absent
            cached.setdefault(t, 0)
    return {t: cached[t] for t in term_ids if cached.get(t, 0) > 0}


def _tf_norm(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float):
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / max(avgdl, 1e-12)))


def _decode_term(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode all of one term's blocks in a salt group (already doc-ordered
    across blocks: salts are disjoint ranges, blocks disjoint within).
    One vectorized pass over all blocks — per-block decode overhead
    dominated hot-term latency (codec.decode_blocks_bulk docstring)."""
    pdf = pdf.sort_values("first_doc_id")
    return codec.decode_blocks_bulk(
        pdf["n_docs"].to_numpy(), pdf["first_doc_id"].to_numpy(),
        list(pdf["doc_gaps"]), list(pdf["tf_bytes"]), list(pdf["dl_bytes"]),
    )


_PRUNE_CHUNK = 64


def _in_sorted(ids: np.ndarray, allowed: np.ndarray) -> np.ndarray:
    """Boolean membership of ``ids`` in the SORTED array ``allowed``."""
    if allowed.size == 0:
        return np.zeros(ids.size, dtype=bool)
    pos = np.minimum(np.searchsorted(allowed, ids), allowed.size - 1)
    return allowed[pos] == ids


def _single_term_topk(
    pdf: pd.DataFrame, idf: float, k: int, avgdl: float, k1: float, b: float,
    allowed: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned scan of one term inside one salt group.

    Blocks are visited in descending block-max order in CHUNKS of
    ``_PRUNE_CHUNK``: each chunk bulk-decodes (vectorized), merges into
    the running top-k, and the scan stops when the next chunk's best
    upper bound cannot beat the current k-th score. Chunking amortizes
    per-block Python overhead ~64x while keeping the early-exit property
    (at most one chunk of over-decode vs block-at-a-time WAND).
    """
    blocks = pdf.sort_values("block_max_tf_norm", ascending=False)
    best_ids = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float64)
    kth = -math.inf
    ubs = idf * blocks["block_max_tf_norm"].to_numpy(dtype=np.float64)
    for lo in range(0, len(blocks), _PRUNE_CHUNK):
        if best_ids.size >= k and ubs[lo] < kth:
            break  # no remaining block can beat the current k-th score
        chunk = blocks.iloc[lo:lo + _PRUNE_CHUNK]
        # bulk decode needs doc-id order; score order is irrelevant here
        chunk = chunk.sort_values("first_doc_id")
        ids, tfs, dls = codec.decode_blocks_bulk(
            chunk["n_docs"].to_numpy(), chunk["first_doc_id"].to_numpy(),
            list(chunk["doc_gaps"]), list(chunk["tf_bytes"]),
            list(chunk["dl_bytes"]),
        )
        scores = idf * _tf_norm(tfs, dls, avgdl, k1, b)
        if allowed is not None:
            # filtered retrieval: the unfiltered block max still upper-
            # bounds any allowed doc's score, so early exit stays exact
            keep = _in_sorted(ids, allowed)
            ids, scores = ids[keep], scores[keep]
        all_ids = np.concatenate([best_ids, ids])
        all_scores = np.concatenate([best_scores, scores])
        order = np.lexsort((all_ids, -all_scores))[:k]
        best_ids, best_scores = all_ids[order], all_scores[order]
        if best_ids.size >= k:
            kth = best_scores[-1]
    return best_ids, best_scores


def _wand_or_topk(
    by_term: dict, idfs: dict, k: int, avgdl: float, k1: float, b: float,
    block_cache: dict | None = None,
    allowed: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Disjunctive (operator: or) top-k inside one salt group — the
    block-max pruning family's vectorizable member (the SURVEY §7 P3
    promise): MaxScore candidate generation over block-max upper bounds
    with block-skipped scoring.

    Classic WAND pivots doc-at-a-time — per-row Python, this repo's
    forbidden shape — and its interval form degrades when a sparse rare
    block SPANS most of the doc range (its block-max then inflates every
    interval's bound; measured 65% decode on the hot+rare shape).
    MaxScore prunes by TERM instead, which vectorizes cleanly:

    1. terms descend by upper bound ub_t = idf_t·max(block_max); suffix
       sums give the best score reachable WITHOUT the first i terms;
    2. visit terms in that order; each contributes its not-yet-seen
       posting docs as candidates, fully scored in one numpy pass —
       other terms' contributions come from block-skipped decodes
       (only blocks containing candidate ids, per-block cache);
    3. STOP when suffix_ub[i] < current k-th score — docs containing
       none of the visited terms are bounded by exactly that suffix,
       so the cut is exact. Hot+rare: the rare term seeds few
       candidates, θ jumps above the hot term's ub, and the hot list's
       untouched blocks are never decoded.
    """
    frames: dict[int, pd.DataFrame] = {
        tid: g.sort_values("first_doc_id").reset_index(drop=True)
        for tid, g in by_term.items()
    }
    # batch callers pass a shared cache so a block decoded for one query
    # is reused by every other query referencing the term in this group
    if block_cache is None:
        block_cache = {}

    def blocks_of(tid: int, idx: np.ndarray):
        """Decode (cached) the given block rows of a term, concatenated
        in doc order (rows are span-sorted and spans are disjoint)."""
        outs = []
        g = frames[tid]
        for bi in idx:
            key = (tid, int(bi))
            if key not in block_cache:
                row = g.iloc[int(bi)]
                block_cache[key] = codec.decode_blocks_bulk(
                    np.array([row["n_docs"]]),
                    np.array([row["first_doc_id"]]),
                    [row["doc_gaps"]], [row["tf_bytes"]], [row["dl_bytes"]],
                )
            outs.append(block_cache[key])
        if not outs:
            z = np.empty(0, dtype=np.int64)
            return z, z, z
        return tuple(np.concatenate(parts) for parts in zip(*outs))

    def contrib(tid: int, cand_ids: np.ndarray) -> np.ndarray:
        """idf·tf_norm of ``tid`` at cand_ids (0 where absent), decoding
        only blocks whose span contains a candidate."""
        g = frames[tid]
        firsts = g["first_doc_id"].to_numpy(dtype=np.int64)
        lasts = g["last_doc_id"].to_numpy(dtype=np.int64)
        lo = np.searchsorted(cand_ids, firsts, side="left")
        hi = np.searchsorted(cand_ids, lasts, side="right")
        out = np.zeros(cand_ids.size, dtype=np.float64)
        touched = np.flatnonzero(hi > lo)
        if touched.size == 0:
            return out
        ids_t, tfs_t, dls_t = blocks_of(tid, touched)
        pos = np.searchsorted(ids_t, cand_ids)
        pos_c = np.minimum(pos, ids_t.size - 1)
        found = ids_t[pos_c] == cand_ids
        if found.any():
            out[found] = idfs[tid] * _tf_norm(
                tfs_t[pos_c[found]], dls_t[pos_c[found]], avgdl, k1, b)
        return out

    ubs = {
        tid: idfs[tid] * float(g["block_max_tf_norm"].max())
        for tid, g in frames.items()
    }
    order = sorted(frames, key=lambda t: (-ubs[t], t))
    # tail[i] = Σ_{j>=i} ub_j — the best score any doc lacking every term
    # in order[:i] can reach
    tail = np.cumsum([ubs[t] for t in order][::-1])[::-1]

    best_ids = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float64)
    kth = -math.inf
    seen = np.empty(0, dtype=np.int64)  # sorted, already-scored doc ids
    for i, tid in enumerate(order):
        if best_ids.size >= k and tail[i] < kth:
            break  # unseen docs lack every visited term: bound < θ
        g = frames[tid]
        ids_t, tfs_t, dls_t = blocks_of(tid, np.arange(len(g)))
        if seen.size:
            pos = np.searchsorted(seen, ids_t)
            pos_c = np.minimum(pos, seen.size - 1)
            new = seen[pos_c] != ids_t
        else:
            new = np.ones(ids_t.size, dtype=bool)
        if allowed is not None:  # filtered retrieval restricts seeds
            new &= _in_sorted(ids_t, allowed)
        cand = ids_t[new]
        if cand.size:
            scores = idfs[tid] * _tf_norm(
                tfs_t[new], dls_t[new], avgdl, k1, b)
            for other in order:
                if other != tid:
                    scores = scores + contrib(other, cand)
            all_ids = np.concatenate([best_ids, cand])
            all_scores = np.concatenate([best_scores, scores])
            sel = np.lexsort((all_ids, -all_scores))[:k]
            best_ids, best_scores = all_ids[sel], all_scores[sel]
            if best_ids.size >= k:
                kth = best_scores[-1]
        seen = np.union1d(seen, ids_t)
    return best_ids, best_scores


def _wand_bool_topk(
    by_term: dict,
    idfs: dict,
    clauses: list[tuple[bool, bool, np.ndarray]],
    msm: int,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    allowed: np.ndarray | None = None,
    block_cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Cross-clause block-max pruned top-k for a whole BOOL query inside
    one salt group — the WAND family applied ACROSS clauses instead of
    per clause (round-3 verdict: the per-clause score-all was the one
    plan in the tree not shippable at 100×).

    ``clauses``: ``(is_must, conjunctive, term_ids)`` per text clause.
    Doc score = Σ must-clause scores + Σ MATCHED should-clause scores;
    a doc qualifies iff every must clause matches and ≥ ``msm`` should
    clauses match (ES bool semantics, identical to ``..dsl.search_dsl``).

    Two EXACT strategies, chosen by shape:

    - **anchor** (≥1 must clause): every qualifying doc appears in the
      postings of EACH must clause, so the cheapest must clause
      enumerates all candidates — its rarest term for a conjunctive
      clause, the union of its terms for a disjunctive one. Every other
      term (including an arbitrarily hot ``should`` term) contributes
      via block-SKIPPED decodes at candidate positions only: the hot
      list is never walked. No threshold needed — the enumeration is a
      superset of the qualifying set by construction.
    - **MaxScore** (should-only, msm ≥ 1): terms descend by upper bound
      ub_t = idf_t·max(block_max); each visited term seeds its
      not-yet-seen docs as fully-scored candidates; STOP when the
      suffix bound cannot beat the k-th QUALIFYING score. Exact: an
      unseen doc contains none of the visited terms, so its score is
      bounded by that suffix — and clause gating only ever LOWERS a
      doc's score below the term-sum bound, never raises it.

    ``allowed``: SORTED array of doc ids permitted into the top-k (ES
    filter context resolved against doc_stats; scores stay
    corpus-global), or None. Candidates are intersected with it before
    scoring; unfiltered block maxes still upper-bound every allowed
    doc's score, so both strategies stay exact.

    ``block_cache``: batch callers (the indexed _msearch) pass a shared
    dict so a block decoded for one query is reused by every other
    query touching the term in this salt group — keys are (term_id,
    row position in the term's doc-ordered frame), identical across
    queries because the frame is the same term group.
    """
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if allowed is not None and allowed.size == 0:
        return empty
    frames: dict[int, pd.DataFrame] = {
        int(t): g.sort_values("first_doc_id").reset_index(drop=True)
        for t, g in by_term.items()
    }
    present = set(frames)
    if block_cache is None:
        block_cache = {}

    def blocks_of(tid: int, idx: np.ndarray):
        outs = []
        g = frames[tid]
        for bi in idx:
            key = (tid, int(bi))
            if key not in block_cache:
                row = g.iloc[int(bi)]
                block_cache[key] = codec.decode_blocks_bulk(
                    np.array([row["n_docs"]]),
                    np.array([row["first_doc_id"]]),
                    [row["doc_gaps"]], [row["tf_bytes"]], [row["dl_bytes"]],
                )
            outs.append(block_cache[key])
        if not outs:
            z = np.empty(0, dtype=np.int64)
            return z, z, z
        return tuple(np.concatenate(parts) for parts in zip(*outs))

    def contrib(tid: int, cand_ids: np.ndarray) -> np.ndarray:
        """idf·tf_norm of ``tid`` at SORTED cand_ids (0 where absent),
        decoding only blocks whose span contains a candidate."""
        g = frames[tid]
        firsts = g["first_doc_id"].to_numpy(dtype=np.int64)
        lasts = g["last_doc_id"].to_numpy(dtype=np.int64)
        lo = np.searchsorted(cand_ids, firsts, side="left")
        hi = np.searchsorted(cand_ids, lasts, side="right")
        out = np.zeros(cand_ids.size, dtype=np.float64)
        touched = np.flatnonzero(hi > lo)
        if touched.size == 0:
            return out
        ids_t, tfs_t, dls_t = blocks_of(tid, touched)
        pos = np.searchsorted(ids_t, cand_ids)
        pos_c = np.minimum(pos, ids_t.size - 1)
        found = ids_t[pos_c] == cand_ids
        if found.any():
            out[found] = idfs[tid] * _tf_norm(
                tfs_t[pos_c[found]], dls_t[pos_c[found]], avgdl, k1, b)
        return out

    # restrict clauses to terms with postings in THIS doc range
    live_clauses: list[tuple[bool, bool, list[int]]] = []
    for is_must, conj, tids in clauses:
        tl = [int(t) for t in tids]
        if conj:
            if any(t not in present for t in tl):
                if is_must:
                    return empty  # a must term absent here: no doc in
                    # this salt's doc range can qualify
                continue  # a should clause dead in this group
            live = sorted(set(tl))
        else:
            live = sorted({t for t in tl if t in present})
            if not live:
                if is_must:
                    return empty
                continue
        live_clauses.append((is_must, conj, live))
    if not live_clauses:
        return empty
    must_cl = [c for c in live_clauses if c[0]]
    if not must_cl and msm > 0:
        if sum(1 for c in live_clauses if not c[0]) < msm:
            return empty
    union_tids = sorted({t for _, _, tl in live_clauses for t in tl})

    def score_candidates(cand: np.ndarray):
        """-> (qualifies, score) over SORTED candidate ids."""
        contribs = {t: contrib(t, cand) for t in union_tids}
        score = np.zeros(cand.size, dtype=np.float64)
        qual = np.ones(cand.size, dtype=bool)
        n_matched = np.zeros(cand.size, dtype=np.int64)
        for is_must, conj, tl in live_clauses:
            cl = np.zeros(cand.size, dtype=np.float64)
            if conj:
                matched = np.ones(cand.size, dtype=bool)
            else:
                matched = np.zeros(cand.size, dtype=bool)
            for t in tl:
                ct = contribs[t]
                cl = cl + ct
                # contribution > 0  <=>  tf >= 1 (idf and tf_norm are
                # strictly positive for present terms)
                if conj:
                    matched &= ct > 0
                else:
                    matched |= ct > 0
            if is_must:
                qual &= matched
                score = score + cl
            else:
                n_matched += matched.astype(np.int64)
                score = score + np.where(matched, cl, 0.0)
        if msm > 0:
            qual &= n_matched >= msm
        return qual, score

    if must_cl:
        # ---- anchor strategy
        def clause_cost(c):
            _, conj, tl = c
            sizes = [int(frames[t]["n_docs"].sum()) for t in tl]
            return min(sizes) if conj else sum(sizes)

        _, aconj, atids = min(must_cl, key=clause_cost)
        if aconj:
            seeds = [min(atids,
                         key=lambda t: int(frames[t]["n_docs"].sum()))]
        else:
            seeds = list(atids)
        cand = np.unique(np.concatenate(
            [blocks_of(t, np.arange(len(frames[t])))[0] for t in seeds]))
        if allowed is not None:
            cand = cand[_in_sorted(cand, allowed)]
        if cand.size == 0:
            return empty
        qual, score = score_candidates(cand)
        cand, score = cand[qual], score[qual]
        order = np.lexsort((cand, -score))[:k]
        return cand[order], score[order]

    # ---- MaxScore strategy (should-only, msm >= 1)
    ubs = {t: idfs[t] * float(frames[t]["block_max_tf_norm"].max())
           for t in union_tids}
    order_t = sorted(union_tids, key=lambda t: (-ubs[t], t))
    tail = np.cumsum([ubs[t] for t in order_t][::-1])[::-1]
    best_ids = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float64)
    kth = -math.inf
    seen = np.empty(0, dtype=np.int64)
    for i, tid in enumerate(order_t):
        if best_ids.size >= k and tail[i] < kth:
            break
        ids_t = blocks_of(tid, np.arange(len(frames[tid])))[0]
        if seen.size:
            pos = np.searchsorted(seen, ids_t)
            pos_c = np.minimum(pos, seen.size - 1)
            new = seen[pos_c] != ids_t
        else:
            new = np.ones(ids_t.size, dtype=bool)
        if allowed is not None:  # filtered retrieval restricts seeds
            new &= _in_sorted(ids_t, allowed)
        cand = ids_t[new]  # doc-ordered within a term -> sorted
        if cand.size:
            qual, score = score_candidates(cand)
            cand, score = cand[qual], score[qual]
            if cand.size:
                all_ids = np.concatenate([best_ids, cand])
                all_scores = np.concatenate([best_scores, score])
                sel = np.lexsort((all_ids, -all_scores))[:k]
                best_ids, best_scores = all_ids[sel], all_scores[sel]
                if best_ids.size >= k:
                    kth = best_scores[-1]
        seen = np.union1d(seen, ids_t)
    return best_ids, best_scores


def search_topk(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int,
    operator: str = "and",
) -> DataFrame:
    """Top-k ``(doc_id, score)`` from the compressed index at ``index_dir``.

    ``operator="and"`` — the reference's conjunctive match (ES ``match``
    + ``operator: and``); ``operator="or"`` — the ES ``match`` default:
    disjunctive BM25 with block-max WAND pruning (:func:`_wand_or_topk`),
    rank-identical to the naive path and the numpy oracle (tested)."""
    paths = IndexPaths(index_dir)
    with open(paths.meta) as f:
        meta = json.load(f)
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    k1, b, n_buckets = float(meta["k1"]), float(meta["b"]), int(meta["n_buckets"])

    empty = spark.createDataFrame([], "doc_id long, score double")
    q_terms = sorted(set(tokenize_text(query_text)))
    if not q_terms or n_docs == 0:
        return empty

    # term_id = xxhash64(term) computed CLIENT-side (bit-identity with
    # Spark's xxhash64 is tested) — no cluster round-trip just to learn
    # which term buckets to prune. At most one Spark job fetches df
    # stats (pruned to the terms' tb directories + term_id row groups);
    # terms already seen against this built index come from _DF_CACHE,
    # so a warm repeated query runs zero stats jobs.
    tid_of = {t: term_id_py(t) for t in q_terms}
    q_term_ids = list(tid_of.values())
    df_of_tid = _df_stats(spark, paths, meta, q_term_ids, n_buckets)
    if operator == "and":
        if any(tid not in df_of_tid for tid in q_term_ids):
            return empty  # conjunctive AND: a missing term kills the query
    else:
        q_terms = [t for t in q_terms if tid_of[t] in df_of_tid]
        if not q_terms:
            return empty  # OR: only a fully-absent query is empty
        q_term_ids = [tid_of[t] for t in q_terms]
    dfs = {t: df_of_tid[tid_of[t]] for t in q_terms}
    idfs = {
        tid_of[t]: math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
        for t in q_terms
    }
    terms_by_rarity = [
        tid_of[t] for t in sorted(q_terms, key=lambda t: (dfs[t], t))
    ]

    # tb pruning from the SURVIVING terms only (post df filter) — on the
    # OR path absent terms no longer widen the partition-filter set
    buckets = sorted({tid % n_buckets for tid in q_term_ids})
    blocks = (
        spark.read.parquet(paths.postings)
        .where(F.col("tb").isin(buckets) & F.col("term_id").isin(q_term_ids))
        .select("term_id", "salt", "block_id", "n_docs", "first_doc_id",
                "last_doc_id", "doc_gaps", "tf_bytes", "dl_bytes",
                "block_max_tf_norm")
    )

    n_q = len(q_terms)
    disjunctive = operator == "or"

    def score_salt(pdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame({
            "doc_id": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float64"),
        })
        by_term = {t: g for t, g in pdf.groupby("term_id")}
        if disjunctive and len(by_term) > 1:
            ids, scores = _wand_or_topk(by_term, idfs, k, avgdl, k1, b)
            return pd.DataFrame({"doc_id": ids, "score": scores})
        if not disjunctive and len(by_term) < n_q:
            return out_empty  # some term has no postings in this doc range

        if len(by_term) == 1:
            t = next(iter(by_term))
            ids, scores = _single_term_topk(by_term[t], idfs[t], k, avgdl, k1, b)
            return pd.DataFrame({"doc_id": ids, "score": scores})

        # rarest term defines the candidate set
        t0 = terms_by_rarity[0]
        cand_ids, cand_tfs, cand_dls = _decode_term(by_term[t0])
        scores = idfs[t0] * _tf_norm(cand_tfs, cand_dls, avgdl, k1, b)

        for t in terms_by_rarity[1:]:
            if cand_ids.size == 0:
                return out_empty
            g = by_term[t].sort_values("first_doc_id")
            firsts = g["first_doc_id"].to_numpy(dtype=np.int64)
            lasts = g["last_doc_id"].to_numpy(dtype=np.int64)
            # block skipping: decode only blocks whose range holds candidates
            lo = np.searchsorted(cand_ids, firsts, side="left")
            hi = np.searchsorted(cand_ids, lasts, side="right")
            touched = np.flatnonzero(hi > lo)
            if touched.size == 0:
                return out_empty
            sub = g.iloc[touched]
            ids_t, tfs_t, _ = _decode_term(sub)
            pos = np.searchsorted(ids_t, cand_ids)
            pos_c = np.minimum(pos, ids_t.size - 1)
            found = ids_t[pos_c] == cand_ids
            if not found.any():
                return out_empty
            scores = scores[found] + idfs[t] * _tf_norm(
                tfs_t[pos_c[found]], cand_dls[found], avgdl, k1, b
            )
            cand_ids, cand_dls = cand_ids[found], cand_dls[found]

        order = np.lexsort((cand_ids, -scores))[:k]
        return pd.DataFrame({"doc_id": cand_ids[order], "score": scores[order]})

    local = blocks.groupBy("salt").applyInPandas(
        score_salt, schema="doc_id long, score double"
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_topk_filtered(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int,
    doc_filter: str,
    operator: str = "and",
) -> DataFrame:
    """ES bool-query parity: full-text match + metadata filter in ONE
    top-k (the reference's actual query shape — ``match`` on the text
    plus ts-range/term filters, src/jobsautoreport/query.py:28-99).

    ES semantics are preserved exactly: the filter restricts WHICH docs
    may enter the top-k, but scoring statistics (idf, avgdl, n_docs)
    stay corpus-global — filter context does not affect scores. The
    filter is a SQL predicate over ``doc_stats`` columns (``ts``,
    ``role``, ``conv_id``, ``turn_idx``, ``dl``); Catalyst pushes it to
    the doc_stats parquet scan, the allowed ids are co-grouped with the
    posting blocks per doc-range salt (both sides carry the same salt,
    so the cogroup is a co-partitioned merge), and the scoring kernels
    intersect candidates against the allowed set. Block-max/MaxScore
    pruning stays exact: an unfiltered bound upper-bounds every allowed
    doc's score.
    """
    paths = IndexPaths(index_dir)
    with open(paths.meta) as f:
        meta = json.load(f)
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    k1, b = float(meta["k1"]), float(meta["b"])
    n_buckets, n_ranges = int(meta["n_buckets"]), int(meta["n_ranges"])

    empty = spark.createDataFrame([], "doc_id long, score double")
    q_terms = sorted(set(tokenize_text(query_text)))
    if not q_terms or n_docs == 0:
        return empty
    tid_of = {t: term_id_py(t) for t in q_terms}
    q_term_ids = list(tid_of.values())
    df_of_tid = _df_stats(spark, paths, meta, q_term_ids, n_buckets)
    if operator == "and":
        if any(tid not in df_of_tid for tid in q_term_ids):
            return empty
    else:
        q_terms = [t for t in q_terms if tid_of[t] in df_of_tid]
        if not q_terms:
            return empty
        q_term_ids = [tid_of[t] for t in q_terms]
    idfs = {
        tid_of[t]: math.log(
            1.0 + (n_docs - df_of_tid[tid_of[t]] + 0.5)
            / (df_of_tid[tid_of[t]] + 0.5))
        for t in q_terms
    }
    terms_by_rarity = [
        tid_of[t]
        for t in sorted(q_terms, key=lambda t: (df_of_tid[tid_of[t]], t))
    ]

    buckets = sorted({tid % n_buckets for tid in q_term_ids})
    blocks = (
        spark.read.parquet(paths.postings)
        .where(F.col("tb").isin(buckets) & F.col("term_id").isin(q_term_ids))
        .select("term_id", "salt", "block_id", "n_docs", "first_doc_id",
                "last_doc_id", "doc_gaps", "tf_bytes", "dl_bytes",
                "block_max_tf_norm")
    )
    allowed_df = (
        spark.read.parquet(paths.doc_stats)
        .where(doc_filter)
        .select("doc_id", salt_expr(F.col("doc_id"), n_ranges).alias("salt"))
    )

    n_q = len(q_terms)
    disjunctive = operator == "or"

    def score_salt(blocks_pdf: pd.DataFrame,
                   allowed_pdf: pd.DataFrame) -> pd.DataFrame:
        allowed = np.sort(allowed_pdf["doc_id"].to_numpy(dtype=np.int64))
        return _score_match_group(blocks_pdf, idfs, k, avgdl, k1, b, n_q,
                                  disjunctive, terms_by_rarity,
                                  allowed=allowed)

    local = blocks.groupBy("salt").cogroup(
        allowed_df.groupBy("salt")
    ).applyInPandas(score_salt, schema="doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _score_match_group(
    blocks_pdf: pd.DataFrame,
    idfs: dict[int, float],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    n_q: int,
    disjunctive: bool,
    terms_by_rarity: list[int],
    allowed: np.ndarray | None = None,
) -> pd.DataFrame:
    """Per-(segment, salt) scoring kernel shared by the filtered,
    multi-segment and filtered-multi-segment paths: one salt group's
    posting blocks for all query terms -> local top-k (doc_id, score).

    ``allowed``: SORTED array of doc ids permitted into the top-k
    (ES filter context — scores already carry corpus-global stats), or
    None for unfiltered. Conjunctive: rarest-first intersection with
    block skipping (only blocks whose [first,last] range can hold a
    surviving candidate are decoded); disjunctive: MaxScore
    (:func:`_wand_or_topk`); single-term: block-max pruned scan."""
    out_empty = pd.DataFrame({
        "doc_id": pd.Series([], dtype="int64"),
        "score": pd.Series([], dtype="float64"),
    })
    if not len(blocks_pdf):
        return out_empty
    if allowed is not None and allowed.size == 0:
        return out_empty
    by_term = {t: g for t, g in blocks_pdf.groupby("term_id")}
    if disjunctive and len(by_term) > 1:
        ids, scores = _wand_or_topk(by_term, idfs, k, avgdl, k1, b,
                                    allowed=allowed)
        return pd.DataFrame({"doc_id": ids, "score": scores})
    if not disjunctive and len(by_term) < n_q:
        return out_empty
    if len(by_term) == 1:
        t = next(iter(by_term))
        ids, scores = _single_term_topk(by_term[t], idfs[t], k,
                                        avgdl, k1, b, allowed=allowed)
        return pd.DataFrame({"doc_id": ids, "score": scores})
    t0 = terms_by_rarity[0]
    cand_ids, cand_tfs, cand_dls = _decode_term(by_term[t0])
    if allowed is not None:
        keep = _in_sorted(cand_ids, allowed)
        cand_ids, cand_tfs, cand_dls = (
            cand_ids[keep], cand_tfs[keep], cand_dls[keep])
    scores = idfs[t0] * _tf_norm(cand_tfs, cand_dls, avgdl, k1, b)
    for t in terms_by_rarity[1:]:
        if cand_ids.size == 0:
            return out_empty
        g = by_term[t].sort_values("first_doc_id")
        firsts = g["first_doc_id"].to_numpy(dtype=np.int64)
        lasts = g["last_doc_id"].to_numpy(dtype=np.int64)
        # block skipping: decode only blocks holding candidates
        lo = np.searchsorted(cand_ids, firsts, side="left")
        hi = np.searchsorted(cand_ids, lasts, side="right")
        touched = np.flatnonzero(hi > lo)
        if touched.size == 0:
            return out_empty
        ids_t, tfs_t, _ = _decode_term(g.iloc[touched])
        pos = np.searchsorted(ids_t, cand_ids)
        pos_c = np.minimum(pos, ids_t.size - 1)
        found = ids_t[pos_c] == cand_ids
        if not found.any():
            return out_empty
        scores = scores[found] + idfs[t] * _tf_norm(
            tfs_t[pos_c[found]], cand_dls[found], avgdl, k1, b)
        cand_ids, cand_dls = cand_ids[found], cand_dls[found]
    order = np.lexsort((cand_ids, -scores))[:k]
    return pd.DataFrame({"doc_id": cand_ids[order],
                         "score": scores[order]})


def _segment_blocks(spark: SparkSession, dirs: list[str], metas: list[dict],
                    avgdl: float, term_ids: list[int]) -> DataFrame:
    """The posting blocks of ``term_ids`` across index segments, each
    tagged with its segment number ``seg``: one ``tb`` + ``term_id``
    pruned scan per segment, block maxes bound-corrected for the global
    avgdl (f(avgdl_g) <= f(avgdl_seg) * avgdl_g/avgdl_seg when avgdl_g >
    avgdl_seg because every denominator term shrinks by at most that
    ratio; <= unchanged bound otherwise)."""
    blocks = None
    for si, (d, m) in enumerate(zip(dirs, metas)):
        buckets = sorted({tid % int(m["n_buckets"]) for tid in term_ids})
        scale = max(1.0, avgdl / max(float(m["avgdl"]), 1e-12))
        part = (
            spark.read.parquet(IndexPaths(d).postings)
            .where(F.col("tb").isin(buckets)
                   & F.col("term_id").isin(term_ids))
            .select("term_id", "salt", "block_id", "n_docs",
                    "first_doc_id", "last_doc_id", "doc_gaps", "tf_bytes",
                    "dl_bytes",
                    (F.col("block_max_tf_norm") * F.lit(scale))
                    .alias("block_max_tf_norm"))
            .withColumn("seg", F.lit(si))
        )
        blocks = part if blocks is None else blocks.unionByName(part)
    return blocks


def _segment_allowed(spark: SparkSession, dirs: list[str],
                     metas: list[dict], pred) -> DataFrame:
    """The ``(doc_id, salt, seg)`` rows of every segment's doc_stats
    that pass ``pred`` (pushed to each parquet scan), salted with THAT
    segment's n_ranges so allowed ids land in the same group as their
    posting blocks."""
    allowed = None
    for si, (d, m) in enumerate(zip(dirs, metas)):
        part = (
            spark.read.parquet(IndexPaths(d).doc_stats)
            .where(pred)
            .select("doc_id",
                    salt_expr(F.col("doc_id"), int(m["n_ranges"]))
                    .alias("salt"))
            .withColumn("seg", F.lit(si))
        )
        allowed = part if allowed is None else allowed.unionByName(part)
    return allowed


def search_topk_multi(
    spark: SparkSession,
    index_dirs: list[str],
    query_text: str,
    k: int,
    operator: str = "and",
    doc_filter: str | None = None,
) -> DataFrame:
    """Top-k BM25 across SEVERAL independently-built index segments with
    EXACT global statistics — the incremental-maintenance path for a
    10¹²-turn corpus: index the daily delta as its own segment
    (:func:`..index.build.build_index` unchanged) and query the union;
    no rebuild, no segment merge job.

    Exactness: global ``n_docs``/``avgdl`` come from the summed segment
    metas, global ``df`` per term is the sum of per-segment dfs, so idf
    and length normalization equal a single index built over the whole
    corpus (tested rank- AND score-identical). Per-posting ``dl`` is
    stored exact. Each doc lives in exactly one segment (the ingest
    dedup guarantee), so conjunctive intersection within (segment, salt)
    groups is complete.

    Pruning stays safe: stored ``block_max_tf_norm`` was computed with
    the SEGMENT's avgdl; since the tf-norm denominator scales by at most
    avgdl_seg/avgdl_global, multiplying the stored bound by
    ``max(1, avgdl_global/avgdl_seg)`` upper-bounds the true global
    value (proof in-line below), so block-max/MaxScore skipping never
    drops a true top-k doc.

    ``doc_filter``: optional SQL predicate over doc_stats columns —
    match + filter fanned out over segments is the reference's actual
    production query (weekly ``prefix-*`` indices with a ts-range
    filter, src/jobsautoreport/main.py:70-72 + query.py:28-99). ES
    filter-context semantics as in :func:`search_topk_filtered`:
    corpus-global stats, per-segment doc_stats scan with the predicate
    pushed down, allowed ids cogrouped with blocks per (segment, salt).
    """
    metas = []
    for d in index_dirs:
        with open(IndexPaths(d).meta) as f:
            metas.append(json.load(f))
    n_docs = sum(int(m["n_docs"]) for m in metas)
    empty = spark.createDataFrame([], "doc_id long, score double")
    if n_docs == 0:
        return empty
    avgdl = sum(float(m["avgdl"]) * int(m["n_docs"]) for m in metas) / n_docs
    k1, b = float(metas[0]["k1"]), float(metas[0]["b"])
    if any((float(m["k1"]), float(m["b"])) != (k1, b) for m in metas):
        raise ValueError("segments disagree on BM25 params")

    q_terms = sorted(set(tokenize_text(query_text)))
    if not q_terms:
        return empty
    tid_of = {t: term_id_py(t) for t in q_terms}
    q_term_ids = list(tid_of.values())

    # global df = sum of per-segment dfs (bucket counts differ per
    # segment, so prune each segment's stats fetch with its own layout)
    df_of_tid: dict[int, int] = {}
    for d, m in zip(index_dirs, metas):
        buckets = sorted({tid % int(m["n_buckets"]) for tid in q_term_ids})
        for r in (
            spark.read.parquet(IndexPaths(d).term_stats)
            .where(F.col("tb").isin(buckets)
                   & F.col("term_id").isin(q_term_ids))
            .select("term_id", "df").collect()
        ):
            tid = int(r["term_id"])
            df_of_tid[tid] = df_of_tid.get(tid, 0) + int(r["df"])
    if operator == "and":
        if any(tid not in df_of_tid for tid in q_term_ids):
            return empty
    else:
        q_terms = [t for t in q_terms if tid_of[t] in df_of_tid]
        if not q_terms:
            return empty
        q_term_ids = [tid_of[t] for t in q_terms]
    idfs = {
        tid_of[t]: math.log(
            1.0 + (n_docs - df_of_tid[tid_of[t]] + 0.5)
            / (df_of_tid[tid_of[t]] + 0.5))
        for t in q_terms
    }

    blocks = _segment_blocks(spark, index_dirs, metas, avgdl, q_term_ids)

    n_q = len(q_terms)
    disjunctive = operator == "or"
    terms_by_rarity = [
        tid_of[t]
        for t in sorted(q_terms, key=lambda t: (df_of_tid[tid_of[t]], t))
    ]

    if doc_filter is not None:
        allowed_df = _segment_allowed(spark, index_dirs, metas, doc_filter)

        def score_group_f(blocks_pdf: pd.DataFrame,
                          allowed_pdf: pd.DataFrame) -> pd.DataFrame:
            allowed = np.sort(
                allowed_pdf["doc_id"].to_numpy(dtype=np.int64))
            return _score_match_group(blocks_pdf, idfs, k, avgdl, k1, b,
                                      n_q, disjunctive, terms_by_rarity,
                                      allowed=allowed)

        local = blocks.groupBy("seg", "salt").cogroup(
            allowed_df.groupBy("seg", "salt")
        ).applyInPandas(score_group_f, schema="doc_id long, score double")
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_match_group(pdf, idfs, k, avgdl, k1, b, n_q,
                                  disjunctive, terms_by_rarity)

    local = blocks.groupBy("seg", "salt").applyInPandas(
        score_group, schema="doc_id long, score double"
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_topk_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[dict],
) -> DataFrame:
    """Batch top-k for a whole query set in ONE distributed pass.

    ``queries``: ``[{"query_id": str, "query_text": str, "k": int,
    "operator": "and"|"or", "doc_filter": str}, ...]`` (operator
    optional, default "and"; "or" queries run the MaxScore kernel per
    salt group; ``doc_filter`` optional — ES bool filter context per
    query, same semantics as :func:`search_topk_filtered`; distinct
    filters each get ONE pushed-down doc_stats scan shared by every
    query using them, and the allowed ids cogroup with the blocks per
    salt). Returns ``(query_id, doc_id, score)`` — per query the same
    rows (and tie order) :func:`search_topk` /
    :func:`search_topk_filtered` return one at a time (tested equal).

    Per-query execution pays ~2 Spark jobs of fixed overhead; a batch
    amortizes that to 2 jobs TOTAL: one stats fetch for the union of all
    query terms, one scoring pass over the union of matching posting
    blocks. Inside a salt group every term is bulk-decoded at most once
    (cached) no matter how many queries reference it; queries then run
    numpy searchsorted intersections over the shared decoded arrays.
    """
    paths = IndexPaths(index_dir)
    with open(paths.meta) as f:
        meta = json.load(f)
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    k1, b, n_buckets = float(meta["k1"]), float(meta["b"]), int(meta["n_buckets"])

    empty = spark.createDataFrame([], "query_id string, doc_id long, score double")
    if n_docs == 0 or not queries:
        return empty

    terms_of = {
        q["query_id"]: sorted(set(tokenize_text(q["query_text"])))
        for q in queries
    }
    k_of = {q["query_id"]: int(q["k"]) for q in queries}
    tid_of = {t: term_id_py(t)
              for ts in terms_of.values() for t in ts}
    union_tids = sorted(set(tid_of.values()))
    if not union_tids:
        return empty
    df_of_tid = _df_stats(spark, paths, meta, union_tids, n_buckets)

    op_of = {q["query_id"]: q.get("operator", "and") for q in queries}
    # distinct filter strings -> small int fid; queries share scans
    flt_of = {q["query_id"]: q.get("doc_filter") for q in queries}
    fid_of_str: dict[str, int] = {}
    for f_ in flt_of.values():
        if f_ is not None and f_ not in fid_of_str:
            fid_of_str[f_] = len(fid_of_str)

    # per-query plan; conjunctive AND drops queries with any missing
    # term, disjunctive OR just drops the missing terms
    plans = []  # (query_id, [tid by rarity], {tid: idf}, k, disj, fid)
    needed_tids: set[int] = set()
    for qid, ts in terms_of.items():
        if op_of[qid] == "or":
            ts = [t for t in ts if tid_of[t] in df_of_tid]
            terms_of[qid] = ts
        tids = [tid_of[t] for t in ts]
        if not tids or any(tid not in df_of_tid for tid in tids):
            continue
        idfs = {
            tid_of[t]: math.log(
                1.0 + (n_docs - df_of_tid[tid_of[t]] + 0.5)
                / (df_of_tid[tid_of[t]] + 0.5))
            for t in ts
        }
        order = [tid_of[t]
                 for t in sorted(ts, key=lambda t: (df_of_tid[tid_of[t]], t))]
        fid = (fid_of_str[flt_of[qid]]
               if flt_of[qid] is not None else None)
        plans.append((qid, order, idfs, k_of[qid], op_of[qid] == "or", fid))
        needed_tids.update(order)
    if not plans:
        return empty

    buckets = sorted({tid % n_buckets for tid in needed_tids})
    blocks = (
        spark.read.parquet(paths.postings)
        .where(F.col("tb").isin(buckets)
               & F.col("term_id").isin(sorted(needed_tids)))
        .select("term_id", "salt", "block_id", "n_docs", "first_doc_id",
                "last_doc_id", "doc_gaps", "tf_bytes", "dl_bytes",
                "block_max_tf_norm")
    )

    def score_salt(pdf: pd.DataFrame,
                   allowed_pdf: pd.DataFrame | None = None) -> pd.DataFrame:
        by_term = {t: g for t, g in pdf.groupby("term_id")}
        cache: dict[int, tuple] = {}
        # shared across this group's OR queries; stores RAW block
        # decodes, so sharing stays correct across per-query filters
        or_block_cache: dict = {}
        fid_arrays: dict[int, np.ndarray] = {}
        if allowed_pdf is not None and len(allowed_pdf):
            for f_, g in allowed_pdf.groupby("fid"):
                fid_arrays[int(f_)] = np.sort(
                    g["doc_id"].to_numpy(dtype=np.int64))

        def decoded(tid: int):
            if tid not in cache:
                cache[tid] = _decode_term(by_term[tid])
            return cache[tid]

        out_q, out_i, out_s = [], [], []
        for qid, order, idfs, k, disjunctive, fid in plans:
            allowed = None
            if fid is not None:
                allowed = fid_arrays.get(
                    fid, np.empty(0, dtype=np.int64))
                if allowed.size == 0:
                    continue  # nothing allowed in this doc range
            if disjunctive:
                present = [t for t in order if t in by_term]
                if not present:
                    continue
                if len(present) > 1:
                    ids, scores = _wand_or_topk(
                        {t: by_term[t] for t in present}, idfs, k,
                        avgdl, k1, b, block_cache=or_block_cache,
                        allowed=allowed)
                else:
                    ids, scores = _single_term_topk(
                        by_term[present[0]], idfs[present[0]], k,
                        avgdl, k1, b, allowed=allowed)
                if ids.size:
                    out_q.extend([qid] * ids.size)
                    out_i.append(ids)
                    out_s.append(scores)
                continue
            if any(t not in by_term for t in order):
                continue  # some term absent from this doc range
            t0 = order[0]
            cand_ids, cand_tfs, cand_dls = decoded(t0)
            if allowed is not None:
                keep = _in_sorted(cand_ids, allowed)
                cand_ids, cand_tfs, cand_dls = (
                    cand_ids[keep], cand_tfs[keep], cand_dls[keep])
                if cand_ids.size == 0:
                    continue
            scores = idfs[t0] * _tf_norm(cand_tfs, cand_dls, avgdl, k1, b)
            dead = False
            for t in order[1:]:
                if cand_ids.size == 0:
                    dead = True
                    break
                ids_t, tfs_t, _ = decoded(t)
                pos = np.searchsorted(ids_t, cand_ids)
                pos_c = np.minimum(pos, ids_t.size - 1)
                found = ids_t[pos_c] == cand_ids
                if not found.any():
                    dead = True
                    break
                scores = scores[found] + idfs[t] * _tf_norm(
                    tfs_t[pos_c[found]], cand_dls[found], avgdl, k1, b)
                cand_ids, cand_dls = cand_ids[found], cand_dls[found]
            if dead or cand_ids.size == 0:
                continue
            sel = np.lexsort((cand_ids, -scores))[:k]
            out_q.extend([qid] * sel.size)
            out_i.append(cand_ids[sel])
            out_s.append(scores[sel])
        if not out_q:
            return pd.DataFrame({
                "query_id": pd.Series([], dtype="object"),
                "doc_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64"),
            })
        return pd.DataFrame({
            "query_id": out_q,
            "doc_id": np.concatenate(out_i),
            "score": np.concatenate(out_s),
        })

    if fid_of_str:
        # ONE pushed-down doc_stats scan per DISTINCT filter, salted to
        # cogroup with the blocks (same shape as search_topk_filtered)
        n_ranges = int(meta["n_ranges"])
        allowed_df = None
        for fstr, fid in fid_of_str.items():
            part = (
                spark.read.parquet(paths.doc_stats)
                .where(fstr)
                .select(F.lit(fid).alias("fid"), "doc_id",
                        salt_expr(F.col("doc_id"), n_ranges).alias("salt"))
            )
            allowed_df = (part if allowed_df is None
                          else allowed_df.unionByName(part))

        local = blocks.groupBy("salt").cogroup(
            allowed_df.groupBy("salt")
        ).applyInPandas(
            score_salt, schema="query_id string, doc_id long, score double")
    else:
        def score_salt_plain(pdf: pd.DataFrame) -> pd.DataFrame:
            return score_salt(pdf, None)

        local = blocks.groupBy("salt").applyInPandas(
            score_salt_plain,
            schema="query_id string, doc_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    k_dim = spark.createDataFrame(list(k_of.items()), "query_id string, k int")
    return (
        local.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(k_dim), "query_id")
        .where(F.col("rn") <= F.col("k"))
        .select("query_id", "doc_id", "score")
        # the docstring promises search_topk's row ORDER too, not just the
        # row set — the window filter + join above don't guarantee it
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )

def sloppy_exists_expr(pos_cols: list, seq_keys: list, slop: int):
    """Catalyst predicate: does an assignment of positions to phrase
    slots exist within ``slop``? — the Lucene sloppy-phrase rule
    (public: Lucene SloppyPhraseMatcher / ES ``match_phrase`` ``slop``,
    "transposed terms have a slop of 2").

    A doc matches phrase slots 0..n-1 with slop s iff positions
    ``p_i ∈ pos_cols[i]`` exist (distinct positions for slots sharing a
    term) such that ``max_i(p_i - i) - min_i(p_i - i) <= s`` — slop 0
    degenerates to adjacency-in-order (all displacements equal).

    ``pos_cols[i]`` = array<int> of slot i's term positions in the doc;
    ``seq_keys[i]`` identifies the slot's term (equal keys ⇒ the
    distinctness constraint applies). Built as NESTED ``F.exists``
    lambdas — whole-stage-codegen, short-circuiting; worst case
    O(Π|pos_i|) per doc, fine for human-length phrases (n ≤ ~6) and
    documented as the trade for staying JVM-side (the alternative — a
    per-doc priority-queue walk — would drop to a pandas UDF).
    """
    n = len(seq_keys)
    if n == 1:
        return F.size(pos_cols[0]) > 0

    def build(i: int, chosen: list):
        if i == n:
            disp = [chosen[j] - F.lit(j) for j in range(n)]
            cond = (F.greatest(*disp) - F.least(*disp)) <= F.lit(slop)
            for j in range(n):
                for kk in range(j + 1, n):
                    if seq_keys[j] == seq_keys[kk]:
                        cond = cond & (chosen[j] != chosen[kk])
            return cond
        return F.exists(pos_cols[i], lambda p: build(i + 1, chosen + [p]))

    return build(0, [])


def span_exists_expr(pos_cols: list, seq_keys: list, slop: int,
                     in_order: bool):
    """Catalyst predicate for ``span_near`` over width-1 (term) spans —
    the Lucene SpanNearQuery match rule (public: Lucene
    SpanNearQuery / NearSpansOrdered/Unordered docs), distinct from the
    sloppy-PHRASE displacement rule :func:`sloppy_exists_expr`:

    - ``in_order=True``: positions ``p_1 < p_2 < ... < p_k`` exist with
      total intervening gap ``p_k - p_1 - (k-1) <= slop`` (strictly
      increasing ⇒ repeated-term slots pick distinct occurrences for
      free).
    - ``in_order=False``: an assignment of DISTINCT positions exists
      (distinctness enforced for equal-term slots; different terms can
      never share a position under the engine's single-token-per-
      position analyzer) whose covering window satisfies
      ``max - min - (k-1) <= slop``.

    Same nested-``F.exists`` construction (whole-stage codegen,
    short-circuiting, O(Π|pos_i|) worst case) and the same
    human-length-clause boundedness argument as the sloppy predicate.
    """
    n = len(seq_keys)
    if n == 1:
        return F.size(pos_cols[0]) > 0

    def build(i: int, chosen: list):
        if i == n:
            if in_order:
                cond = reduce(
                    lambda a, b: a & b,
                    [chosen[j] < chosen[j + 1] for j in range(n - 1)])
                width = chosen[-1] - chosen[0]
            else:
                cond = F.lit(True)
                for j in range(n):
                    for kk in range(j + 1, n):
                        if seq_keys[j] == seq_keys[kk]:
                            cond = cond & (chosen[j] != chosen[kk])
                width = F.greatest(*chosen) - F.least(*chosen)
            return cond & (width <= F.lit(slop + n - 1))
        return F.exists(pos_cols[i], lambda p: build(i + 1, chosen + [p]))

    return build(0, [])


def span_tokens_expr(toks_col, ordered_terms: list[str], slop: int,
                     in_order: bool):
    """:func:`span_exists_expr` over a tokenized TEXT column — the
    corpus twin of the positions-sidecar span verify, per-term position
    arrays derived in-expression exactly like
    :func:`sloppy_tokens_expr`."""
    pos_of = {}
    for t in set(ordered_terms):
        idx = F.transform(
            toks_col,
            (lambda tt: lambda x, i:
             F.when(x == F.lit(tt), i).otherwise(F.lit(-1)))(t))
        pos_of[t] = F.filter(idx, lambda p: p >= 0)
    return span_exists_expr(
        [pos_of[t] for t in ordered_terms], ordered_terms, slop, in_order)


def span_not_exists_expr(inc_pos, exc_pos, pre: int, post: int):
    """Catalyst predicate for ``span_not`` over width-1 (term) spans —
    the Lucene SpanNotQuery rule (public: Lucene SpanNotQuery docs):
    an include occurrence at position ``p`` survives unless an exclude
    occurrence ``q`` lies in ``[p - pre, p + post]``; the doc matches
    when ANY include occurrence survives. ``inc_pos`` / ``exc_pos`` are
    array<int> position columns (exclude may be NULL — no exclude
    occurrences in the doc — which excludes nothing). Same nested-
    ``F.exists`` whole-stage-codegen construction as the other span
    predicates; O(|inc|·|exc|) per doc, short-circuiting."""
    exc = F.coalesce(exc_pos, F.array().cast("array<int>"))
    return F.exists(
        inc_pos,
        lambda p: ~F.exists(
            exc, lambda q: (q >= p - F.lit(pre)) & (q <= p + F.lit(post))),
    )


def span_not_tokens_expr(toks_col, inc_term: str, exc_term: str,
                         pre: int, post: int):
    """:func:`span_not_exists_expr` over a tokenized TEXT column —
    per-term position arrays derived in-expression exactly like
    :func:`sloppy_tokens_expr`, so the corpus and positions-sidecar
    paths share one semantics definition."""
    pos_of = {}
    for t in {inc_term, exc_term}:
        idx = F.transform(
            toks_col,
            (lambda tt: lambda x, i:
             F.when(x == F.lit(tt), i).otherwise(F.lit(-1)))(t))
        pos_of[t] = F.filter(idx, lambda p: p >= 0)
    return span_not_exists_expr(pos_of[inc_term], pos_of[exc_term],
                                pre, post)


def sloppy_tokens_expr(toks_col, ordered_terms: list[str], slop: int):
    """:func:`sloppy_exists_expr` over a tokenized TEXT column (the
    corpus-fallback twin of the positions-sidecar path): per-term
    position arrays are derived in-expression —
    ``filter(transform(toks, (x, i) -> if(x = t, i, -1)), p -> p >= 0)``
    — then fed to the same nested-exists predicate, so both verify
    paths share one semantics definition."""
    pos_of = {}
    for t in set(ordered_terms):
        idx = F.transform(
            toks_col,
            (lambda tt: lambda x, i:
             F.when(x == F.lit(tt), i).otherwise(F.lit(-1)))(t))
        pos_of[t] = F.filter(idx, lambda p: p >= 0)
    return sloppy_exists_expr(
        [pos_of[t] for t in ordered_terms], ordered_terms, slop)


def phrase_verify_from_positions(
    spark: SparkSession,
    dirs: list[str],
    metas: list[dict],
    cand: DataFrame,
    q_term_ids: list[int],
    tid_seq: list[int],
    slop: int = 0,
    span_in_order: bool | None = None,
) -> DataFrame:
    """doc_ids from ``cand`` where the phrase's terms appear adjacent
    in order (``slop=0``) or within ``slop`` position moves (ES
    ``match_phrase`` ``slop`` — :func:`sloppy_exists_expr` semantics),
    proven from the positions sidecar alone (ES
    ``index_options: positions``) — no corpus access. With
    ``span_in_order`` set (True/False), the predicate is instead the
    ``span_near`` rule (:func:`span_exists_expr`) at any slop
    including 0 — unordered slop 0 is NOT adjacency, so span requests
    never take the fast path below.

    ``tid_seq`` is the phrase's term_ids in token order (duplicates
    kept); ``cand`` must be CONJUNCTIVE candidates (every term present,
    so ``element_at`` below never returns null). Works across segments:
    each doc lives in exactly one segment (the ingest-dedup guarantee),
    so a plain union of the pruned per-segment position reads is exact.

    Plan shape: bucket+term pruned parquet read → join to the (small)
    candidate set (AQE broadcasts it) → one-shuffle pivot to a per-doc
    ``map<term_id, positions>`` → a Catalyst ``exists(P_0, p -> ∀i
    array_contains(P_i, p+i))`` predicate (slop 0; the sloppy variant
    nests one exists per slot), fully whole-stage-codegen. The read is
    bounded by the phrase terms' posting sizes — at 10^12 turns that is
    index I/O, not a corpus probe.
    """
    pos = None
    for d, m in zip(dirs, metas):
        nb = int(m["n_buckets"])
        bks = sorted({tid % nb for tid in q_term_ids})
        p = (
            spark.read.parquet(IndexPaths(d).positions)
            .where(F.col("tb").isin(bks)
                   & F.col("term_id").isin(q_term_ids))
            .select("term_id", "doc_id", "positions")
        )
        pos = p if pos is None else pos.unionByName(p)
    pivoted = (
        pos.join(cand.select("doc_id"), "doc_id")
        .groupBy("doc_id")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("term_id", "positions"))
        ).alias("pm"))
    )

    def _key(tid):  # map keys are bigint; small literals infer int
        return F.lit(tid).cast("long")

    if span_in_order is not None:
        pred = span_exists_expr(
            [F.element_at("pm", _key(tid)) for tid in tid_seq],
            tid_seq, slop, span_in_order)
        return pivoted.where(pred).select("doc_id")
    if slop > 0:
        pred = sloppy_exists_expr(
            [F.element_at("pm", _key(tid)) for tid in tid_seq],
            tid_seq, slop)
        return pivoted.where(pred).select("doc_id")

    # slop=0 fast path — exists p in P(term_0): every later token i
    # sits at p+i (duplicate phrase tokens resolve to the same term's
    # list, so repeats ("a b a") verify correctly); linear in |P_0|
    # instead of the sloppy nest's product bound.
    def adjacent(p):
        cond = F.lit(True)
        for i, tid in enumerate(tid_seq[1:], start=1):
            cond = cond & F.array_contains(
                F.element_at("pm", _key(tid)), p + i)
        return cond

    return (
        pivoted.where(F.exists(F.element_at("pm", _key(tid_seq[0])),
                               adjacent))
        .select("doc_id")
    )


def search_phrase(
    spark: SparkSession,
    index_dir: str,
    docs_df: DataFrame | None,
    phrase_text: str,
    k: int,
    slop: int = 0,
) -> DataFrame:
    """Phrase top-k (ES ``match_phrase`` shape) from the compressed
    index + adjacency verification.

    Two stages, both exact:
    1. the index prunes to CONJUNCTIVE candidates — every doc containing
       all phrase terms, scored, with NO top-k cut (a phrase doc may sit
       arbitrarily deep in the match ranking, so cutting early would be
       wrong);
    2. adjacency-in-order (``slop=0``) or within-``slop`` verification
       (ES ``match_phrase`` ``slop``, :func:`sloppy_exists_expr`
       semantics — qualification only; scoring is slop-independent),
       one of two exact paths:
       - ``docs_df is None`` (requires an index built with
         ``store_positions=True`` — ES ``index_options: positions`` /
         Lucene's .pos file): the positions sidecar is read pruned to
         the phrase's (tb, term_id)s, pivoted per candidate doc, and a
         Catalyst ``exists(P_0, p -> ∀i array_contains(P_i, p+i))``
         predicate verifies the phrase — fully JVM-side, NO corpus
         access at query time (at 10^12 turns the corpus join-back is a
         100 TB-table probe; the positions read is bucket-pruned index
         I/O bounded by the phrase terms' posting sizes);
       - otherwise: candidates semi-join back to ``docs_df`` where a
         substring predicate over the space-joined token array verifies
         adjacency (exact: tokens never contain spaces). The standard
         trade for indexes that skipped positions.
    Scoring = BM25 over the phrase's distinct terms with corpus-global
    stats (same formula as ``match``; rank-identical to
    :func:`..naive.naive_phrase_topk` on both paths, tested).
    """
    from prow_jobs_scraper_spark.functions.tokenize import (  # noqa: PLC0415
        tokenize_column,
    )
    from prow_jobs_scraper_spark.index.build import (  # noqa: PLC0415
        with_doc_ids,
    )

    paths = IndexPaths(index_dir)
    with open(paths.meta) as f:
        meta = json.load(f)
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    k1, b, n_buckets = (float(meta["k1"]), float(meta["b"]),
                        int(meta["n_buckets"]))

    empty = spark.createDataFrame([], "doc_id long, score double")
    phrase_terms = tokenize_text(phrase_text)  # ordered, duplicates kept
    if not phrase_terms or n_docs == 0 or k <= 0:
        return empty

    q_terms = sorted(set(phrase_terms))
    tid_of = {t: term_id_py(t) for t in q_terms}
    q_term_ids = list(tid_of.values())
    df_of_tid = _df_stats(spark, paths, meta, q_term_ids, n_buckets)
    if any(tid not in df_of_tid for tid in q_term_ids):
        return empty  # phrase implies conjunctive
    idfs = {
        tid_of[t]: math.log(
            1.0 + (n_docs - df_of_tid[tid_of[t]] + 0.5)
            / (df_of_tid[tid_of[t]] + 0.5))
        for t in q_terms
    }
    terms_by_rarity = [
        tid_of[t]
        for t in sorted(q_terms, key=lambda t: (df_of_tid[tid_of[t]], t))
    ]

    buckets = sorted({tid % n_buckets for tid in q_term_ids})
    blocks = (
        spark.read.parquet(paths.postings)
        .where(F.col("tb").isin(buckets) & F.col("term_id").isin(q_term_ids))
        .select("term_id", "salt", "block_id", "n_docs", "first_doc_id",
                "last_doc_id", "doc_gaps", "tf_bytes", "dl_bytes",
                "block_max_tf_norm")
    )
    n_q = len(q_terms)
    k_all = 1 << 62  # no cut — every conjunctive candidate survives

    def score_all(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_match_group(pdf, idfs, k_all, avgdl, k1, b, n_q,
                                  False, terms_by_rarity)

    cand = blocks.groupBy("salt").applyInPandas(
        score_all, schema="doc_id long, score double")

    if docs_df is None:
        if not meta.get("has_positions"):
            raise ValueError(
                "search_phrase without docs_df needs an index built with "
                "BuildConfig(store_positions=True); this index has no "
                "positions sidecar")
        tid_seq = [tid_of[t] for t in phrase_terms]
        verified = phrase_verify_from_positions(
            spark, [index_dir], [meta], cand, q_term_ids, tid_seq,
            slop=slop)
    else:
        if "doc_id" not in docs_df.columns:
            docs_df = with_doc_ids(docs_df)
        if slop > 0:
            pred = sloppy_tokens_expr(
                tokenize_column(F.col("text")), phrase_terms, slop)
        else:
            joined = F.concat(
                F.lit(" "),
                F.array_join(tokenize_column(F.col("text")), " "),
                F.lit(" "))
            needle = " " + " ".join(phrase_terms) + " "
            pred = F.instr(joined, needle) > 0
        verified = (
            docs_df.join(cand.select("doc_id"), "doc_id", "left_semi")
            .where(pred)
            .select("doc_id")
        )
    return (
        cand.join(verified, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
