"""Compressed-index BM25 top-k with block skipping + block-max pruning.

One match top-k path serves every entry point. A single index is a
segment list of one (:func:`_load_segments`), so :func:`search_topk`,
:func:`search_topk_filtered` and :func:`search_topk_multi` are short
wrappers over :func:`_match_topk`. Every posting read runs through one
(segment, salt) group runner, :func:`_group_frame`, which takes a list
of planned queries; a batch (:func:`search_topk_many`, the DSL's
``_msearch``) is a list of many, cut per query by one window,
:func:`_per_query_topk`.

Query lifecycle (cf. SURVEY.md §3.2 "ours"):

1. analyze the query with the engine tokenizer (same as index build);
2. open each segment's handle (:func:`_load_segments`): one
   :class:`_Segment` per ``meta.json`` commit, holding the meta, the
   tables opened once and the df of every term queried so far — a warm
   read lists no files and infers no schema. df per term comes from
   each segment's ``term_stats`` (term-bucket ``tb`` directory pruning
   + Parquet min/max on ``term_id``) only for the terms its handle has
   not seen, summed across segments (:func:`_df_stats_multi`);
   :func:`_plan_match` keeps the live terms — conjunctive semantics:
   any missing term short-circuits to an empty result; disjunctive:
   missing terms drop — with their idf and rarity order;
3. scan only the matching posting blocks of each handle's opened
   postings (:func:`_segment_blocks`, again tb-pruned), each tagged
   with its segment;
4. one distributed scoring pass grouped by ``(seg, salt)``
   (:func:`_group_frame`) — every term's postings were range-partitioned
   on the SAME doc-id ranges at build time, so each group holds all
   query terms' postings for one doc range of one segment: a
   co-partitioned merge with zero replication. The postings are read
   once for the union of every planned query's terms; each distinct
   metadata filter cogroups its allowed doc ids
   (:func:`_segment_allowed`) with the blocks, and the group's queries
   share one block-decode cache;
5. per-group numpy kernel :func:`_score_match_group`: one live term runs
   a block-max pruned scan in descending block-max order that stops
   once the k-th score exceeds the next block's upper bound; AND decodes
   the rarest term, then for each further term only blocks whose
   [first_doc_id, last_doc_id] span touches surviving candidates
   (searchsorted block skipping); OR is the MaxScore arm of
   :func:`_wand_bool_topk` with one should clause;
6. local top-k per group → global ``orderBy(score desc, doc_id).limit(k)``
   (TakeOrderedAndProject) for one query, or the per-query window of
   :func:`_per_query_topk` for a batch.

Every positional check (phrase at any slop, span_near, span_first,
span_not) lives in one place, as Catalyst higher-order expressions. A
:class:`_Positional` names the constraint; a position source answers
``pos(term)`` (0-based positions as ``array<int>``) and ``adjacent``
(the slop-0 fast path) — :class:`_TokenPositions` over a tokenized text
column, :class:`_SidecarPositions` over the per-doc ``map<term_id,
positions>`` pivot of the positions sidecar; :func:`_positional_pred`
is the one predicate function over either source, used by the naive DSL
and :func:`..naive.naive_phrase_topk` at slop > 0; and
:func:`_verify_positions` is the one index-side verifier (sidecar read
+ pivot, or a ``docs_df`` re-check) behind :func:`search_phrase` and
the DSL's indexed clauses.

Rank-identity: float64 everywhere, same formula and tie order as the
naive path and the numpy oracle (three-way agreement enforced in tests).
"""

from __future__ import annotations

import json
import math
import os
import threading
from collections.abc import Callable
from functools import reduce
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prow_jobs_scraper_spark.functions.tokenize import (
    tokenize_column,
    tokenize_text,
)
from prow_jobs_scraper_spark.functions.xxh64 import term_id_py
from prow_jobs_scraper_spark.index import codec
from prow_jobs_scraper_spark.index.build import (
    IndexPaths,
    salt_expr,
    with_doc_ids,
)

# The handles of the segments read so far, one per (session, absolute
# root), each for the commit it was opened at (:func:`_open_segment`).
_SEGMENTS: dict[tuple, "_Segment"] = {}
_SEGMENTS_LOCK = threading.Lock()
_MAX_SEGMENTS = 64        # handles kept; the oldest opened goes first
_MAX_DF_TERMS = 1 << 20   # df entries per handle; queried terms only

_K_ALL = 1 << 62  # no per-group cut: callers combine or verify every match
_HITS = "doc_id long, score double"
_ROWS = "query_id string, doc_id long, score double"
_NO_IDS = np.empty(0, dtype=np.int64)
_NO_SCORES = np.empty(0, dtype=np.float64)


class _Segment:
    """One committed index segment, opened once per commit: its meta,
    its tables and the df of every term queried on it so far.

    :meth:`table` opens a table on its first use. Opening lists the
    table's files and runs Spark's schema-inference job; every later
    read filters the opened relation, so a warm query runs only its own
    jobs. ``df`` maps each queried term id to its df here, 0 for a term
    the segment lacks (a negative entry). A commit's tables and df never
    change: a build writes them all before ``meta.json``, and a rebuild
    withdraws ``meta.json`` first (:mod:`...commit`). Threads may share
    a handle: its lock guards the tables and the df."""

    def __init__(self, spark: SparkSession, root: str, meta: dict,
                 commit: tuple):
        self.spark, self.meta, self.commit = spark, meta, commit
        self.paths = IndexPaths(root)
        self.df: dict[int, int] = {}
        self._tables: dict[str, DataFrame] = {}
        self._lock = threading.RLock()

    def table(self, name: str) -> DataFrame:
        """The segment's ``name`` table (``postings``, ``term_stats``,
        ``doc_stats``, ``positions``, ``terms``)."""
        with self._lock:
            if name not in self._tables:
                self._tables[name] = self.spark.read.parquet(
                    getattr(self.paths, name))
            return self._tables[name]

    def term_rows(self, name: str, term_ids: list[int]) -> DataFrame:
        """The rows of ``term_ids`` in the term-keyed table ``name``
        (``postings``, ``term_stats``, ``positions``): term-bucket
        ``tb`` directory pruning + Parquet min/max on ``term_id``."""
        nb = int(self.meta["n_buckets"])
        return self.table(name).where(
            F.col("tb").isin(sorted({t % nb for t in term_ids}))
            & F.col("term_id").isin(term_ids))

    def df_of(self, term_ids: list[int]) -> dict[int, int]:
        """df per term id; term_stats is read only for the terms not
        queried here before -> only terms PRESENT in the segment
        appear."""
        with self._lock:
            missing = [t for t in term_ids if t not in self.df]
            if missing:
                if len(self.df) + len(missing) > _MAX_DF_TERMS:
                    # the clear also drops the terms of THIS call that
                    # were cached: fetch every one again, or an AND or
                    # phrase query would read them as df=0 and come back
                    # empty
                    self.df.clear()
                    missing = list(dict.fromkeys(term_ids))
                rows = (self.term_rows("term_stats", missing)
                        .select("term_id", "df").collect())
                for r in rows:
                    self.df[int(r["term_id"])] = int(r["df"])
                for t in missing:  # negative entries: absent stays absent
                    self.df.setdefault(t, 0)
            return {t: self.df[t] for t in term_ids
                    if self.df.get(t, 0) > 0}


def _open_segment(spark: SparkSession, root: str) -> _Segment:
    """The handle of the index committed at ``root``.

    A handle is reused while ``meta.json`` is the same commit: the same
    file (``st_ino``, ``st_mtime_ns``, ``st_size``) with the same
    content. :func:`...commit.write_json` replaces the file atomically,
    so a rebuild, a compaction or a re-ingest into ``root`` always opens
    a fresh handle — even one whose meta reads the same. A root without
    ``meta.json`` (a build killed before its commit, a segment a
    compaction removed) raises ``FileNotFoundError``."""
    root = os.path.abspath(root)
    with open(IndexPaths(root).meta, "rb") as f:
        st = os.fstat(f.fileno())
        raw = f.read()
    commit = (st.st_ino, st.st_mtime_ns, st.st_size, raw)
    key = (spark, root)
    with _SEGMENTS_LOCK:
        seg = _SEGMENTS.get(key)
        if seg is None or seg.commit != commit:
            _SEGMENTS.pop(key, None)
            while len(_SEGMENTS) >= _MAX_SEGMENTS:
                del _SEGMENTS[next(iter(_SEGMENTS))]
            seg = _SEGMENTS[key] = _Segment(spark, root, json.loads(raw),
                                            commit)
        return seg


def _load_segments(spark: SparkSession, index_dir: str | list[str]):
    """-> (segment handles, global n_docs, global avgdl) for one index
    directory (a list of one segment, whose avgdl is kept bit-for-bit)
    or a segment list; BM25 params must agree across segments."""
    dirs = [index_dir] if isinstance(index_dir, str) else list(index_dir)
    segs = [_open_segment(spark, d) for d in dirs]
    metas = [s.meta for s in segs]
    n_docs = sum(int(m["n_docs"]) for m in metas)
    if len(metas) == 1:
        avgdl = float(metas[0]["avgdl"])
    else:
        avgdl = (sum(float(m["avgdl"]) * int(m["n_docs"]) for m in metas)
                 / n_docs if n_docs else 0.0)
    k1, b = float(metas[0]["k1"]), float(metas[0]["b"])
    if any((float(m["k1"]), float(m["b"])) != (k1, b) for m in metas):
        raise ValueError("segments disagree on BM25 params")
    return segs, n_docs, avgdl


def _df_stats_multi(segs: list[_Segment],
                    term_ids: list[int]) -> dict[int, int]:
    """Global df per term summed across segments, each from its
    segment's handle (:meth:`_Segment.df_of`) — a warm repeated query
    runs ZERO stats jobs, and overlapping terms are fetched at most
    once per segment."""
    out: dict[int, int] = {}
    for s in segs:
        for tid, df in s.df_of(list(term_ids)).items():
            out[tid] = out.get(tid, 0) + int(df)
    return out


def _idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


class _Match(NamedTuple):
    """A planned match: idf per live term and the live term ids rarest
    first (ties broken on the term text)."""

    idfs: dict[int, float]
    rarity: list[int]
    disjunctive: bool


def _plan_match(terms: list[str], df_of: dict[int, int], n_docs: int,
                conjunctive: bool, boost: float = 1.0) -> _Match | None:
    """Plan one match over its distinct analyzed ``terms`` and the
    global ``df_of``, or None when it matches nothing: a conjunctive
    match needs every term in the corpus, a disjunctive one drops the
    absent terms. ``boost`` (the ES per-clause boost) folds into the
    idf — scores AND the kernels' block-max bounds are linear in it, so
    pruning stays exact under scaling."""
    tid_of = {t: term_id_py(t) for t in terms}
    live = [t for t in terms if tid_of[t] in df_of]
    if not live or (conjunctive and len(live) < len(terms)):
        return None
    idfs = {tid_of[t]: boost * _idf(n_docs, df_of[tid_of[t]]) for t in live}
    rarity = [tid_of[t]
              for t in sorted(live, key=lambda t: (df_of[tid_of[t]], t))]
    return _Match(idfs, rarity, not conjunctive)


def _tf_norm(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float):
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / max(avgdl, 1e-12)))


def _find(sorted_ids: np.ndarray, ids: np.ndarray):
    """-> (found mask, clipped insert positions) of ``ids`` in the
    SORTED array ``sorted_ids``."""
    if sorted_ids.size == 0:
        return (np.zeros(ids.size, dtype=bool),
                np.zeros(ids.size, dtype=np.int64))
    pos = np.minimum(np.searchsorted(sorted_ids, ids), sorted_ids.size - 1)
    return sorted_ids[pos] == ids, pos


class _Postings:
    """One (segment, salt) group's posting blocks per term, doc-ordered,
    behind a block-decode cache keyed ``(term_id, block row)``. Batch
    callers pass one shared ``cache`` per group so a block decoded for
    one query is reused by every other query touching the term there —
    the keys agree because every query sorts the same term frame."""

    def __init__(self, by_term: dict, idfs: dict, avgdl: float, k1: float,
                 b: float, cache: dict | None = None):
        self.frames = {
            int(t): g.sort_values("first_doc_id").reset_index(drop=True)
            for t, g in by_term.items()
        }
        self.idfs, self.avgdl, self.k1, self.b = idfs, avgdl, k1, b
        self.cache = {} if cache is None else cache

    def n_postings(self, tid: int) -> int:
        return int(self.frames[tid]["n_docs"].sum())

    def decode(self, tid: int, rows=None):
        """(ids, tfs, dls) of block ``rows`` (ascending; every block
        when None) of ``tid``, concatenated in doc order. Uncached
        blocks decode in ONE vectorized call — per-block decode overhead
        dominated hot-term latency (codec.decode_blocks_bulk docstring)."""
        g = self.frames[tid]
        rows = range(len(g)) if rows is None else [int(r) for r in rows]
        miss = [r for r in rows if (tid, r) not in self.cache]
        if miss:
            sub = g.iloc[miss]
            nd = sub["n_docs"].to_numpy()
            cols = codec.decode_blocks_bulk(
                nd, sub["first_doc_id"].to_numpy(), list(sub["doc_gaps"]),
                list(sub["tf_bytes"]), list(sub["dl_bytes"]))
            cuts = np.cumsum(nd)[:-1]
            for r, *parts in zip(miss, *(np.split(c, cuts) for c in cols)):
                self.cache[(tid, r)] = tuple(parts)
        if not rows:
            return _NO_IDS, _NO_IDS, _NO_IDS
        return tuple(np.concatenate(p)
                     for p in zip(*(self.cache[(tid, r)] for r in rows)))

    def score(self, tid: int, cand: np.ndarray):
        """-> (found mask over SORTED ``cand``, idf·tf_norm of ``tid`` at
        the found ids), decoding only blocks whose [first, last] doc
        span holds a candidate (block skipping)."""
        g = self.frames[tid]
        lo = np.searchsorted(cand, g["first_doc_id"].to_numpy(np.int64),
                             side="left")
        hi = np.searchsorted(cand, g["last_doc_id"].to_numpy(np.int64),
                             side="right")
        ids, tfs, dls = self.decode(tid, np.flatnonzero(hi > lo))
        found, pos = _find(ids, cand)
        pos = pos[found]
        return found, self.idfs[tid] * _tf_norm(
            tfs[pos], dls[pos], self.avgdl, self.k1, self.b)

    def contrib(self, tid: int, cand: np.ndarray) -> np.ndarray:
        """idf·tf_norm of ``tid`` at SORTED ``cand`` (0 where absent)."""
        found, s = self.score(tid, cand)
        out = np.zeros(cand.size, dtype=np.float64)
        out[found] = s
        return out


_PRUNE_CHUNK = 64


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
    best_ids = _NO_IDS
    best_scores = _NO_SCORES
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
            keep = _find(allowed, ids)[0]
            ids, scores = ids[keep], scores[keep]
        all_ids = np.concatenate([best_ids, ids])
        all_scores = np.concatenate([best_scores, scores])
        order = np.lexsort((all_ids, -all_scores))[:k]
        best_ids, best_scores = all_ids[order], all_scores[order]
        if best_ids.size >= k:
            kth = best_scores[-1]
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
    plan in the tree not shippable at 100×). A disjunctive ``match`` is
    the one-should-clause, ``msm=1`` case.

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
      doc's score below the term-sum bound, never raises it. MaxScore
      prunes by TERM, which vectorizes cleanly; classic WAND pivots
      doc-at-a-time (per-row Python), and its interval form degrades
      when a sparse rare block spans most of the doc range. Hot+rare:
      the rare term seeds few candidates, θ jumps above the hot term's
      ub, and the hot list's untouched blocks are never decoded.

    ``allowed``: SORTED array of doc ids permitted into the top-k (ES
    filter context resolved against doc_stats; scores stay
    corpus-global), or None. Candidates are intersected with it before
    scoring; unfiltered block maxes still upper-bound every allowed
    doc's score, so both strategies stay exact.

    ``block_cache``: the shared per-group cache of :class:`_Postings`.
    """
    empty = (_NO_IDS, _NO_SCORES)
    if allowed is not None and allowed.size == 0:
        return empty
    post = _Postings(by_term, idfs, avgdl, k1, b, block_cache)
    present = set(post.frames)

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
        contribs = {t: post.contrib(t, cand) for t in union_tids}
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
            sizes = [post.n_postings(t) for t in tl]
            return min(sizes) if conj else sum(sizes)

        _, aconj, atids = min(must_cl, key=clause_cost)
        seeds = [min(atids, key=post.n_postings)] if aconj else list(atids)
        cand = np.unique(np.concatenate([post.decode(t)[0] for t in seeds]))
        if allowed is not None:
            cand = cand[_find(allowed, cand)[0]]
        if cand.size == 0:
            return empty
        qual, score = score_candidates(cand)
        cand, score = cand[qual], score[qual]
        order = np.lexsort((cand, -score))[:k]
        return cand[order], score[order]

    # ---- MaxScore strategy (should-only, msm >= 1)
    ubs = {t: idfs[t] * float(post.frames[t]["block_max_tf_norm"].max())
           for t in union_tids}
    order_t = sorted(union_tids, key=lambda t: (-ubs[t], t))
    # tail[i] = Σ_{j>=i} ub_j — the best score any doc lacking every term
    # in order_t[:i] can reach
    tail = np.cumsum([ubs[t] for t in order_t][::-1])[::-1]
    best_ids, best_scores = empty
    kth = -math.inf
    seen = _NO_IDS  # sorted, already-scored doc ids
    for i, tid in enumerate(order_t):
        if best_ids.size >= k and tail[i] < kth:
            break  # unseen docs lack every visited term: bound < θ
        ids_t = post.decode(tid)[0]
        new = ~_find(seen, ids_t)[0]
        if allowed is not None:  # filtered retrieval restricts seeds
            new &= _find(allowed, ids_t)[0]
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


def _score_match_group(
    by_term: dict,
    match: _Match,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    allowed: np.ndarray | None = None,
    block_cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The match kernel: one (segment, salt) group's posting blocks per
    term -> local top-k ``(doc_ids, scores)`` of ``match``.

    One live term runs the block-max pruned scan
    (:func:`_single_term_topk`); a disjunctive match is the MaxScore arm
    of :func:`_wand_bool_topk` with one should clause; a conjunctive one
    intersects rarest-first, decoding only the blocks whose span can
    hold a surviving candidate. ``allowed``: SORTED doc ids permitted
    into the top-k (ES filter context — scores keep corpus-global
    stats), or None. ``block_cache``: shared across a batch's queries
    (:class:`_Postings`)."""
    tids = [t for t in match.rarity if t in by_term]
    if (not tids or (allowed is not None and allowed.size == 0)
            or (not match.disjunctive and len(tids) < len(match.rarity))):
        return _NO_IDS, _NO_SCORES  # a conjunctive term absent here
    if len(tids) == 1:
        return _single_term_topk(by_term[tids[0]], match.idfs[tids[0]], k,
                                 avgdl, k1, b, allowed=allowed)
    if match.disjunctive:
        return _wand_bool_topk(
            {t: by_term[t] for t in tids}, match.idfs,
            [(False, False, np.array(tids, dtype=np.int64))], 1, k,
            avgdl, k1, b, allowed=allowed, block_cache=block_cache)
    post = _Postings({t: by_term[t] for t in tids}, match.idfs, avgdl,
                     k1, b, block_cache)
    ids, tfs, dls = post.decode(tids[0])
    if allowed is not None:
        keep = _find(allowed, ids)[0]
        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
    scores = match.idfs[tids[0]] * _tf_norm(tfs, dls, avgdl, k1, b)
    for t in tids[1:]:
        found, s = post.score(t, ids)
        ids, scores = ids[found], scores[found] + s
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def _by_term(pdf: pd.DataFrame) -> dict[int, pd.DataFrame]:
    return {int(t): g for t, g in pdf.groupby("term_id")}


def _sorted_ids(pdf: pd.DataFrame) -> np.ndarray:
    return np.sort(pdf["doc_id"].to_numpy(dtype=np.int64))


def _segment_blocks(segs: list[_Segment], avgdl: float,
                    term_ids: list[int]) -> DataFrame:
    """The posting blocks of ``term_ids`` across index segments, each
    tagged with its segment number ``seg``: one ``tb`` + ``term_id``
    pruned scan per segment, block maxes bound-corrected for the global
    avgdl (f(avgdl_g) <= f(avgdl_seg) * avgdl_g/avgdl_seg when avgdl_g >
    avgdl_seg because every denominator term shrinks by at most that
    ratio; <= unchanged bound otherwise)."""
    blocks = None
    for si, s in enumerate(segs):
        scale = max(1.0, avgdl / max(float(s.meta["avgdl"]), 1e-12))
        part = (
            s.term_rows("postings", term_ids)
            .select("term_id", "salt", "block_id", "n_docs",
                    "first_doc_id", "last_doc_id", "doc_gaps", "tf_bytes",
                    "dl_bytes",
                    (F.col("block_max_tf_norm") * F.lit(scale))
                    .alias("block_max_tf_norm"))
            .withColumn("seg", F.lit(si))
        )
        blocks = part if blocks is None else blocks.unionByName(part)
    return blocks


def _segment_allowed(segs: list[_Segment], pred) -> DataFrame:
    """The ``(doc_id, salt, seg)`` rows of every segment's doc_stats
    that pass ``pred`` (pushed to each parquet scan), salted with THAT
    segment's n_ranges so allowed ids land in the same group as their
    posting blocks."""
    allowed = None
    for si, s in enumerate(segs):
        part = (
            s.table("doc_stats")
            .where(pred)
            .select("doc_id",
                    salt_expr(F.col("doc_id"), int(s.meta["n_ranges"]))
                    .alias("salt"))
            .withColumn("seg", F.lit(si))
        )
        allowed = part if allowed is None else allowed.unionByName(part)
    return allowed


class _Plan(NamedTuple):
    """One query of a group pass: its id, the term ids whose postings it
    reads, its doc_stats filter (SQL, or None) and its kernel
    ``kernel(by_term, allowed, cache) -> (ids, scores)``."""

    query_id: str
    term_ids: list[int]
    doc_filter: str | None
    kernel: Callable


def _group_frame(segs: list[_Segment], avgdl: float,
                 plans: list[_Plan]) -> DataFrame:
    """``(query_id, doc_id, score)`` rows of every plan's kernel, run on
    every (segment, salt) group — the one group runner of the engine.

    The posting blocks are read ONCE for the union of the plans' term
    ids; each plan's kernel sees only its own terms' blocks, and a plan
    with none of them in a group is skipped there. Each distinct
    ``doc_filter`` (SQL over doc_stats columns) gets one pushed-down
    doc_stats scan, tagged with a small int ``fid``; the union of those
    allowed-id sets cogroups with the blocks — both sides carry the same
    (seg, salt), so the cogroup is a co-partitioned merge — and a
    filtered plan's kernel gets its filter's SORTED allowed ids (None
    without a filter). Every plan of a group shares one block-decode
    cache (:class:`_Postings`), so a block is decoded at most once there
    however many queries read it."""
    groups = _segment_blocks(
        segs, avgdl,
        sorted({t for p in plans for t in p.term_ids})).groupBy("seg", "salt")
    fid_of: dict[str, int] = {}
    for p in plans:
        if p.doc_filter is not None:
            fid_of.setdefault(p.doc_filter, len(fid_of))

    def run(pdf: pd.DataFrame, apdf: pd.DataFrame | None = None):
        by_term = _by_term(pdf)
        allowed_of = ({} if apdf is None else
                      {int(f): _sorted_ids(g) for f, g in apdf.groupby("fid")})
        cache: dict = {}
        outs = []
        for qid, tids, flt, kernel in plans:
            mine = {t: by_term[t] for t in tids if t in by_term}
            if not mine:
                continue
            allowed = (None if flt is None
                       else allowed_of.get(fid_of[flt], _NO_IDS))
            ids, scores = kernel(mine, allowed, cache)
            if ids.size:
                outs.append(pd.DataFrame(
                    {"query_id": qid, "doc_id": ids, "score": scores}))
        if not outs:
            return pd.DataFrame({"query_id": pd.Series([], dtype="object"),
                                 "doc_id": _NO_IDS, "score": _NO_SCORES})
        return pd.concat(outs, ignore_index=True)

    if not fid_of:
        return groups.applyInPandas(lambda pdf: run(pdf), schema=_ROWS)
    allowed_df = reduce(DataFrame.unionByName, [
        _segment_allowed(segs, flt).withColumn("fid", F.lit(fid))
        for flt, fid in fid_of.items()])
    return groups.cogroup(allowed_df.groupBy("seg", "salt")).applyInPandas(
        run, schema=_ROWS)


def _per_query_topk(rows: DataFrame, k_of: dict[str, int]) -> DataFrame:
    """The one per-query top-k cut of every batch: ``(query_id, doc_id,
    score)`` rows -> each query's best ``k_of[query_id]`` rows by (score
    desc, doc_id), ordered by query_id, then rank — per query the rows
    and tie order of the single-query ``orderBy(...).limit(k)``."""
    k = F.create_map(*[x for qid, n in k_of.items()
                       for x in (F.lit(qid), F.lit(n))])[F.col("query_id")]
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (rows.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .orderBy("query_id", "__rn")
            .select("query_id", "doc_id", "score"))


def _conjunctive(operator: str) -> bool:
    """A match ``operator``: "and" (True) or "or" (False); anything else
    raises rather than silently running as OR."""
    if operator not in ("and", "or"):
        raise ValueError(
            f"match operator {operator!r} not supported (use 'and' or 'or')")
    return operator == "and"


def _match_plan(query_id: str, match: _Match, k: int, avgdl: float,
                segs: list[_Segment], doc_filter: str | None = None) -> _Plan:
    """A planned match as a group-runner plan keeping each group's
    local top-k (``k=_K_ALL`` keeps every match)."""
    k1, b = float(segs[0].meta["k1"]), float(segs[0].meta["b"])
    return _Plan(query_id, match.rarity, doc_filter,
                 lambda by_term, allowed, cache: _score_match_group(
                     by_term, match, k, avgdl, k1, b, allowed, cache))


def _match_frame(segs: list[_Segment], avgdl: float, match: _Match, k: int,
                 doc_filter: str | None = None) -> DataFrame:
    """Per-group local top-k ``(doc_id, score)`` of one planned match —
    their union holds the global top-k; ``k=_K_ALL`` keeps every
    match."""
    return _group_frame(
        segs, avgdl, [_match_plan("", match, k, avgdl, segs, doc_filter)],
    ).drop("query_id")


def _match_topk(spark: SparkSession, index_dir: str | list[str],
                query_text: str, k: int, operator: str,
                doc_filter: str | None) -> DataFrame:
    """The one match top-k behind :func:`search_topk`,
    :func:`search_topk_filtered` and :func:`search_topk_multi`."""
    conjunctive = _conjunctive(operator)
    segs, n_docs, avgdl = _load_segments(spark, index_dir)
    terms = sorted(set(tokenize_text(query_text)))
    if not terms or n_docs == 0:
        return spark.createDataFrame([], _HITS)
    # term_id = xxhash64(term) computed CLIENT-side (bit-identity with
    # Spark's xxhash64 is tested) — no cluster round-trip just to learn
    # which term buckets to prune
    df_of = _df_stats_multi(segs, [term_id_py(t) for t in terms])
    match = _plan_match(terms, df_of, n_docs, conjunctive)
    if match is None:
        return spark.createDataFrame([], _HITS)
    return (_match_frame(segs, avgdl, match, k, doc_filter)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


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
    disjunctive BM25 with MaxScore pruning (:func:`_wand_bool_topk`),
    rank-identical to the naive path and the numpy oracle (tested)."""
    return _match_topk(spark, index_dir, query_text, k, operator, None)


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
    posting blocks per doc-range salt, and the scoring kernel
    intersects candidates against the allowed set. Block-max/MaxScore
    pruning stays exact: an unfiltered bound upper-bounds every allowed
    doc's score.
    """
    return _match_topk(spark, index_dir, query_text, k, operator,
                       doc_filter)


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
    value (:func:`_segment_blocks`), so block-max/MaxScore skipping
    never drops a true top-k doc.

    ``doc_filter``: optional SQL predicate over doc_stats columns —
    match + filter fanned out over segments is the reference's actual
    production query (weekly ``prefix-*`` indices with a ts-range
    filter, src/jobsautoreport/main.py:70-72 + query.py:28-99). ES
    filter-context semantics as in :func:`search_topk_filtered`:
    corpus-global stats, per-segment doc_stats scan with the predicate
    pushed down, allowed ids cogrouped with blocks per (segment, salt).
    """
    return _match_topk(spark, list(index_dirs), query_text, k, operator,
                       doc_filter)


_QUERY_KEYS = {"query_id", "query_text", "k", "operator", "doc_filter"}


def search_topk_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[dict],
) -> DataFrame:
    """Batch top-k for a whole query set in ONE distributed pass.

    ``queries``: ``[{"query_id": str, "query_text": str, "k": int,
    "operator": "and"|"or", "doc_filter": str}, ...]`` (query ids
    unique; operator optional, default "and"; ``doc_filter`` optional —
    ES bool filter context per query, same semantics as
    :func:`search_topk_filtered`; any other key raises). Returns
    ``(query_id, doc_id, score)`` — per query the same rows (and tie
    order) :func:`search_topk` / :func:`search_topk_filtered` return one
    at a time (tested equal).

    A planner over the one group runner: one df fetch for the union of
    all query terms, :func:`_plan_match` per query, then ONE
    :func:`_group_frame` pass — one postings read, one pushed-down
    doc_stats scan per distinct filter, one block-decode cache per group
    shared by every query — and the one per-query cut,
    :func:`_per_query_topk`.
    """
    k_of: dict[str, int] = {}
    for q in queries:
        unknown = set(q) - _QUERY_KEYS
        if unknown:
            raise ValueError(f"unsupported query keys {sorted(unknown)} for "
                             f"query_id {q.get('query_id')!r}")
        if q["query_id"] in k_of:
            raise ValueError(f"duplicate query_id {q['query_id']!r}")
        if int(q["k"]) < 0:
            raise ValueError(
                f"k must be non-negative, got {q['k']} for query_id "
                f"{q['query_id']!r}")
        _conjunctive(q.get("operator", "and"))
        k_of[q["query_id"]] = int(q["k"])
    segs, n_docs, avgdl = _load_segments(spark, index_dir)
    terms_of = {q["query_id"]: sorted(set(tokenize_text(q["query_text"])))
                for q in queries}
    union_tids = sorted({term_id_py(t)
                         for ts in terms_of.values() for t in ts})
    if n_docs == 0 or not union_tids:
        return spark.createDataFrame([], _ROWS)
    df_of = _df_stats_multi(segs, union_tids)
    plans = []
    for q in queries:
        match = _plan_match(terms_of[q["query_id"]], df_of, n_docs,
                            _conjunctive(q.get("operator", "and")))
        if match is not None:
            plans.append(_match_plan(q["query_id"], match, int(q["k"]),
                                     avgdl, segs, q.get("doc_filter")))
    if not plans:
        return spark.createDataFrame([], _ROWS)
    return _per_query_topk(_group_frame(segs, avgdl, plans), k_of)


def _exists_assignment(pos_cols: list, seq_keys: list, accept):
    """Catalyst predicate: do positions ``p_i ∈ pos_cols[i]`` exist with
    ``accept([p_0, ..., p_n-1])``, distinct for slots sharing a term?

    ``pos_cols[i]`` = array<int> of slot i's term positions in the doc;
    ``seq_keys[i]`` identifies the slot's term (equal keys ⇒ the
    distinctness constraint applies). Built as NESTED ``F.exists``
    lambdas — whole-stage-codegen, short-circuiting; worst case
    O(Π|pos_i|) per doc, fine for human-length clauses (n ≤ ~6) and
    documented as the trade for staying JVM-side (the alternative — a
    per-doc priority-queue walk — would drop to a pandas UDF).
    """
    n = len(seq_keys)
    if n == 1:
        return F.size(pos_cols[0]) > 0

    def build(i: int, chosen: list):
        if i < n:
            return F.exists(pos_cols[i],
                            lambda p: build(i + 1, chosen + [p]))
        cond = accept(chosen)
        for j in range(n):
            for kk in range(j + 1, n):
                if seq_keys[j] == seq_keys[kk]:
                    cond = cond & (chosen[j] != chosen[kk])
        return cond

    return build(0, [])


def sloppy_exists_expr(pos_cols: list, seq_keys: list, slop: int):
    """Catalyst predicate: does an assignment of positions to phrase
    slots exist within ``slop``? — the Lucene sloppy-phrase rule
    (public: Lucene SloppyPhraseMatcher / ES ``match_phrase`` ``slop``,
    "transposed terms have a slop of 2").

    A doc matches phrase slots 0..n-1 with slop s iff positions
    ``p_i ∈ pos_cols[i]`` exist (distinct positions for slots sharing a
    term) such that ``max_i(p_i - i) - min_i(p_i - i) <= s`` — slop 0
    degenerates to adjacency-in-order (all displacements equal). Built
    by :func:`_exists_assignment`.
    """
    def within(chosen):
        disp = [p - F.lit(j) for j, p in enumerate(chosen)]
        return F.greatest(*disp) - F.least(*disp) <= F.lit(slop)

    return _exists_assignment(pos_cols, seq_keys, within)


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

    Built by :func:`_exists_assignment`, like the sloppy predicate.
    """
    limit = F.lit(slop + len(seq_keys) - 1)

    def window(chosen):
        if in_order:
            steps = [a < b for a, b in zip(chosen, chosen[1:])]
            return (reduce(lambda a, b: a & b, steps)
                    & (chosen[-1] - chosen[0] <= limit))
        return F.greatest(*chosen) - F.least(*chosen) <= limit

    return _exists_assignment(pos_cols, seq_keys, window)


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


class _Positional(NamedTuple):
    """One clause's positional constraint. ``terms`` are the analyzed
    query tokens in order, duplicates kept; span_first and span_not
    read the single term ``terms[0]``."""

    terms: list
    slop: int = 0
    in_order: bool | None = None  # span_near (None: phrase rules)
    first_end: int | None = None  # span_first end
    exclude: tuple | None = None  # span_not (exclude_term, pre, post)

    @property
    def kind(self) -> str:
        if self.first_end is not None:
            return "span_first"
        if self.exclude is not None:
            return "span_not"
        return "match_phrase" if self.in_order is None else "span_near"


class _TokenPositions:
    """Position source over a tokenized text column (the corpus)."""

    def __init__(self, toks):
        self.toks = toks

    def pos(self, term: str):
        """``filter(transform(toks, (x, i) -> if(x = t, i, -1)),
        p -> p >= 0)`` — ascending 0-based positions, empty if absent."""
        idx = F.transform(
            self.toks,
            lambda x, i: F.when(x == F.lit(term), i).otherwise(F.lit(-1)))
        return F.filter(idx, lambda p: p >= 0)

    def adjacent(self, terms: list):
        """Substring containment over the space-joined, sentinel-wrapped
        tokens — exact because tokens never contain spaces."""
        hay = F.concat(F.lit(" "), F.array_join(self.toks, " "), F.lit(" "))
        return F.instr(hay, " " + " ".join(terms) + " ") > 0


class _SidecarPositions:
    """Position source over the per-doc ``pm: map<term_id, positions>``
    pivot of the positions sidecar (see :func:`_verify_positions`)."""

    def pos(self, term: str):
        # map keys are bigint; small literals would infer int
        return F.element_at("pm", F.lit(term_id_py(term)).cast("long"))

    def adjacent(self, terms: list):
        """``exists(P_0, p -> ∀i array_contains(P_i, p+i))`` — linear in
        |P_0| instead of the sloppy nest's product bound; repeated
        tokens resolve to the same term's list, so "a b a" verifies."""
        def rest(p):
            cond = F.lit(True)
            for i, t in enumerate(terms[1:], start=1):
                cond = cond & F.array_contains(self.pos(t), p + i)
            return cond

        return F.exists(self.pos(terms[0]), rest)


def _positional_pred(src, c: _Positional):
    """The one boolean for a positional constraint over a position
    source: phrase at slop 0 → ``adjacent``, phrase at slop > 0 →
    :func:`sloppy_exists_expr`, span_near → :func:`span_exists_expr`
    (unordered slop 0 is NOT adjacency), span_first → first position
    < end (positions ascend), span_not → :func:`span_not_exists_expr`."""
    t = c.terms
    if c.first_end is not None:
        return F.array_min(src.pos(t[0])) < F.lit(c.first_end)
    if c.exclude is not None:
        exc, pre, post = c.exclude
        return span_not_exists_expr(src.pos(t[0]), src.pos(exc), pre, post)
    if c.in_order is not None:
        return span_exists_expr([src.pos(x) for x in t], t, c.slop,
                                c.in_order)
    if c.slop > 0:
        return sloppy_exists_expr([src.pos(x) for x in t], t, c.slop)
    return src.adjacent(t)


def _verify_positions(
    segs: list[_Segment],
    cand: DataFrame,
    c: _Positional,
    docs_df: DataFrame | None,
    field: str = "text",
    error=ValueError,
) -> DataFrame:
    """The rows of ``cand`` (CONJUNCTIVE candidates: every term of
    ``c.terms`` present) whose doc satisfies ``c``.

    - ``docs_df`` given: it is semi-joined to the candidates and the
      predicate runs over its tokenized ``field``;
    - ``docs_df is None``: every segment must carry the positions
      sidecar (``store_positions=True`` — ES ``index_options:
      positions``), else ``error`` is raised. The sidecar is read pruned
      to the clause's (tb, term_id)s, include and exclude terms alike,
      joined to the (small) candidate set and pivoted once per doc to
      ``map<term_id, positions>`` — no corpus access. Each doc lives in
      exactly one segment (the ingest-dedup guarantee), so a plain union
      of the per-segment reads is exact.
    """
    if docs_df is not None:
        if "doc_id" not in docs_df.columns:
            docs_df = with_doc_ids(docs_df)
        src = _TokenPositions(tokenize_column(F.col(field)))
        ok = (docs_df.join(cand.select("doc_id"), "doc_id", "left_semi")
              .where(_positional_pred(src, c)).select("doc_id"))
        return cand.join(ok, "doc_id")
    if not all(s.meta.get("has_positions") for s in segs):
        raise error(
            f"{c.kind} needs docs_df, or every index segment built with "
            "BuildConfig(store_positions=True) (a positions sidecar)")
    read = list(c.terms) + ([c.exclude[0]] if c.exclude else [])
    tids = sorted({term_id_py(t) for t in read})
    pos = reduce(DataFrame.unionByName, [
        s.term_rows("positions", tids).select("term_id", "doc_id",
                                              "positions")
        for s in segs])
    pivoted = (
        pos.join(cand.select("doc_id"), "doc_id")
        .groupBy("doc_id")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("term_id", "positions"))).alias("pm"))
    )
    ok = pivoted.where(_positional_pred(_SidecarPositions(), c))
    return cand.join(ok.select("doc_id"), "doc_id")


def search_phrase(
    spark: SparkSession,
    index_dir: str | list[str],
    docs_df: DataFrame | None,
    phrase_text: str,
    k: int,
    slop: int = 0,
) -> DataFrame:
    """Phrase top-k (ES ``match_phrase`` shape) from the compressed
    index — or a segment list — + adjacency verification.

    Two stages, both exact:
    1. the index prunes to CONJUNCTIVE candidates — every doc containing
       all phrase terms, scored, with NO top-k cut (a phrase doc may sit
       arbitrarily deep in the match ranking, so cutting early would be
       wrong);
    2. :func:`_verify_positions` keeps the candidates whose terms are
       adjacent in order (``slop=0``) or within ``slop`` position moves
       (ES ``match_phrase`` ``slop``, :func:`sloppy_exists_expr`
       semantics — qualification only; scoring is slop-independent),
       from the positions sidecar when ``docs_df is None`` (every
       segment built with ``store_positions=True``; else
       ``ValueError``) — no corpus access at query time — or from a
       re-check against ``docs_df``, the standard trade for indexes
       that skipped positions.
    Scoring = BM25 over the phrase's distinct terms with corpus-global
    stats (same formula as ``match``; rank-identical to
    :func:`..naive.naive_phrase_topk` on both paths, tested).
    """
    segs, n_docs, avgdl = _load_segments(spark, index_dir)
    empty = spark.createDataFrame([], _HITS)
    phrase_terms = tokenize_text(phrase_text)  # ordered, duplicates kept
    if not phrase_terms or n_docs == 0 or k <= 0:
        return empty
    q_terms = sorted(set(phrase_terms))
    df_of = _df_stats_multi(segs, [term_id_py(t) for t in q_terms])
    match = _plan_match(q_terms, df_of, n_docs, True)  # phrase => AND
    if match is None:
        return empty
    # no cut — every conjunctive candidate survives to the verify
    cand = _match_frame(segs, avgdl, match, _K_ALL)
    return (
        _verify_positions(segs, cand, _Positional(phrase_terms, slop),
                          docs_df)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
