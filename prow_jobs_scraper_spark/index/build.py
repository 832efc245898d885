"""Inverted-index build: tokenize → postings → salted encode → shards.

The reference builds its index by POSTing JSON docs to OpenSearch and
letting Lucene do everything (reference src/prowjobsscraper/event.py:
204-219 — bulk upsert with deterministic `_id`s; 1 shard, 0 replicas,
indices/jobs_schema.json:3-11, i.e. zero parallelism). This module is the
from-scratch Spark-native replacement: one declarative DataFrame plan per
stage, one explicit shuffle (groupBy term+salt), Arrow-vectorized encode.

Layout (directory-partitioned Parquet standing in for Iceberg — no
Iceberg runtime jar is needed; the layout mirrors Iceberg partition
transforms ``bucket(term)`` / identity(salt) and every write goes through
the one commit protocol of :mod:`..commit` — partition-granular,
idempotent, metadata last — so swapping the I/O layer for
``df.writeTo(...)`` on a real catalog is mechanical):

    <root>/doc_stats/            doc_id, conv_id, turn_idx, dl
    <root>/term_stats/tb=*/      term, term_id, df, cf
    <root>/postings/tb=*/        term_id, salt, block rows (codec.py format)
    <root>/manifest/             per-bucket lineage + build metrics
    <root>/terms/tb=*/           term <-> term_id dim (the only strings)
    <root>/flat/tb=*/            optional persisted occurrence stream
    <root>/positions/tb=*/       optional per-(term, doc) token offsets
                                 (ES index_options=positions / Lucene .pos)
    <root>/meta.json             corpus constants (n_docs, avgdl, params);
                                 written LAST — present = committed index

Key design points (vs BASELINE.json north_rule):

- **doc_id** = ``xxhash64(conv_id, turn_idx)`` — deterministic, shuffle-free
  (no global row-number sort), uniform over int64. The (conv_id, turn_idx)
  mapping is kept in ``doc_stats``; tie-breaks use doc_id everywhere, and
  the oracle receives the same ids, so ordering stays rank-identical.
- **Skew**: every term's postings are range-partitioned over the doc-id
  hash space into ``n_ranges`` power-of-2 salts (``salt = top bits of the
  sign-flipped doc_id``). A hot term occupying 30% of the corpus becomes
  ``n_ranges`` similar-sized encode groups — explicit skew splitting, not
  AQE luck. Fixed (rather than df-adaptive) granularity keeps every term
  co-partitioned on the same ranges, so query tasks need no block
  replication and the build needs no df-dependent second pass; the cost is
  ≤ n_ranges tiny blocks for long-tail terms, bounded and measured in the
  manifest. Salted-vs-unsalted equivalence is tested (n_ranges=1 vs 32).
- **Resumability**: the term space is hashed into ``n_buckets`` buckets
  (column ``tb``); the build commits bucket-chunks one write-job at a time
  (each a partition overwrite of its buckets) and appends a manifest row
  per bucket (counts, bytes, postings/sec, skew ratio). A rerun skips
  committed buckets — the partition-granular analog of the reference's
  deterministic-``_id`` upserts (event.py:204-214). ``meta.json`` is the
  index's last, atomic commit: a killed build leaves no ``meta.json``, so
  no reader opens a half-built index, and the rerun writes it once every
  bucket is committed.
- **block_max_tf_norm** is stored instead of block_max_score so the encode
  stage never needs a postings⋈term_stats join: BM25 = idf(term) *
  tf_norm(tf, dl) and max() commutes with the positive scalar idf.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prow_jobs_scraper_spark import commit
from prow_jobs_scraper_spark.functions.tokenize import tokenize_column
from prow_jobs_scraper_spark.index import codec

INT64_MIN = -(1 << 63)

BLOCKS_SCHEMA = (
    "tb int, term_id long, salt int, block_id int, n_docs int, "
    "first_doc_id long, last_doc_id long, doc_gaps binary, tf_bytes binary, "
    "dl_bytes binary, block_max_tf_norm double, sum_tf long, n_bytes int"
)


@dataclass(frozen=True)
class BM25Params:
    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class IndexPaths:
    root: str

    @property
    def doc_stats(self) -> str:
        return os.path.join(self.root, "doc_stats")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")

    @property
    def flat(self) -> str:
        return os.path.join(self.root, "flat")

    @property
    def positions(self) -> str:
        return os.path.join(self.root, "positions")

    @property
    def terms(self) -> str:
        return os.path.join(self.root, "terms")

    @property
    def meta(self) -> str:
        return os.path.join(self.root, "meta.json")


@dataclass
class BuildConfig:
    n_ranges: int = 32          # power-of-2 doc-range salts per term
    n_buckets: int = 16         # term-hash buckets (resume + pruning unit)
    n_chunks: int = 1           # write jobs; >1 => partial-progress resume
    block_size: int = codec.BLOCK_SIZE
    params: BM25Params = field(default_factory=BM25Params)
    persist_flat: bool | None = None  # default: True iff n_chunks > 1
    # ES text fields default to index_options=positions; storing them
    # makes match_phrase answerable from the index alone (no corpus
    # re-scan at query time). Off by default: positions multiply index
    # bytes and only the phrase shape needs them (Lucene's .pos file is
    # the analogue — a sidecar, never interleaved with the postings).
    store_positions: bool = False


def with_doc_ids(transcripts: DataFrame) -> DataFrame:
    """Attach the deterministic doc key: doc_id = xxhash64(conv_id, turn_idx).

    A pre-assigned ``doc_id`` column passes through untouched — corpora
    that already carry a stable int64 key (e.g. the documents table) keep
    it, so query results join back to the caller's ids directly. Every
    downstream stage (salting, block sort, tie-breaks) works on any int64
    distribution; only salt balance assumes rough uniformity, which a
    hash-derived caller id preserves."""
    if "doc_id" in transcripts.columns:
        return transcripts
    return transcripts.withColumn("doc_id", F.xxhash64("conv_id", "turn_idx"))


def salt_expr(doc_id_col, n_ranges: int):
    """Doc-range salt: top log2(n_ranges) bits of the sign-flipped doc_id.

    XOR with INT64_MIN maps signed order onto unsigned order, so salts are
    contiguous, non-overlapping doc_id ranges in signed sort order — block
    merge across salts is ordered concatenation.
    """
    if n_ranges <= 1:
        return F.lit(0)
    bits = int(n_ranges).bit_length() - 1
    if (1 << bits) != n_ranges:
        raise ValueError("n_ranges must be a power of 2")
    return F.shiftrightunsigned(
        doc_id_col.bitwiseXOR(F.lit(INT64_MIN)), 64 - bits
    ).cast("int")


def salt_bounds(n_ranges: int) -> np.ndarray:
    """Signed doc_id lower bounds of each salt range (ascending)."""
    if n_ranges <= 1:
        return np.array([INT64_MIN], dtype=np.int64)
    step = (1 << 64) // n_ranges
    unsigned = np.arange(n_ranges, dtype=np.uint64) * np.uint64(step)
    return (unsigned ^ np.uint64(1 << 63)).astype(np.int64)


def term_id_expr(term_col):
    """64-bit term key (xxhash64, Spark-native). Postings, the shuffle and
    the encoder all work on this int64 — term STRINGS never enter the big
    shuffle (measured: string Arrow/shuffle traffic dominated JVM CPU and
    saturated memory bandwidth, killing multi-core scaling). The
    string<->id mapping lives in the tiny ``terms`` dim / ``term_stats``.
    Collision risk is birthday(n_terms, 2^64): ~3e-4 at 10^8 terms."""
    return F.xxhash64(term_col)


def term_bucket_expr(term_col, n_buckets: int):
    return F.pmod(term_id_expr(term_col), F.lit(n_buckets)).cast("int")


def term_bucket_of_id(term_id_col, n_buckets: int):
    return F.pmod(term_id_col, F.lit(n_buckets)).cast("int")


def tokenized_docs(transcripts: DataFrame) -> DataFrame:
    """The single tokenize pass: (conv_id, turn_idx, doc_id, tokens).

    Tokenization is a Catalyst regexp (JVM codegen — UDFs are the slow
    path). doc_stats, the terms dim and the flat occurrence stream all
    derive from this frame. It is deliberately NOT persisted: caching the
    token arrays measured worse than recomputing (cache memory traffic
    anti-scales with cores; the regexp is linear-scaling CPU work).
    """
    # every non-text column rides along: doc_stats persists them as the
    # filterable doc attributes behind search_topk_filtered and the ES
    # bool-DSL metadata clauses (search/dsl.py) — the analogue of ES doc
    # values, so a term/terms/range/exists filter never rescans the corpus
    attrs = [c for c in transcripts.columns
             if c not in ("text", "conv_id", "turn_idx", "doc_id")]
    return with_doc_ids(transcripts).select(
        "conv_id", "turn_idx", "doc_id",
        tokenize_column(F.col("text")).alias("tokens"), *attrs,
    )


def _flat_occurrences(docs: DataFrame, cfg: BuildConfig) -> DataFrame:
    """tokenized docs -> one row per token OCCURRENCE
    (term_id, doc_id, dl) — 24 payload bytes, no strings.

    Deliberately NOT pre-aggregated to (term, doc_id, tf): that groupBy is
    a full extra shuffle plus a ~|occurrences|-cardinality hash aggregate,
    and the encoder must re-sort by (term, doc_id) anyway — so tf falls
    out of a vectorized run-length pass there for free. tb and salt are
    pure functions of term_id / doc_id and are recomputed where needed
    (filter expressions JVM-side, numpy bit ops in the encoder) instead of
    being shuffled as materialized columns. dl rides along the explode so
    no doc_stats join is needed.
    """
    return (
        docs.select("doc_id", F.size("tokens").alias("dl"), F.explode("tokens").alias("term"))
        .select(
            term_id_expr(F.col("term")).alias("term_id"), "doc_id", "dl")
        .withColumn("tb", term_bucket_of_id(F.col("term_id"), cfg.n_buckets))
        .withColumn("salt", salt_expr(F.col("doc_id"), cfg.n_ranges))
    )


def _make_encoder(avgdl: float, params: BM25Params, block_size: int,
                  pre_aggregated: bool = False):
    """Grouped-map Arrow encoder: one (tb, salt) group -> all its terms'
    compressed blocks in one vectorized pass.

    Design rationale, each step measured on the 1M-turn corpus:
    - grouping by (tb, salt) — not (term, salt) — amortizes per-group
      overhead: a Zipfian vocabulary yields ~|vocab| × n_ranges groups
      averaging a few dozen postings, and per-group cost then dominates
      (2× worse wall-clock). n_buckets × n_ranges groups bound group size
      to corpus_postings / (n_buckets × n_ranges); both knobs scale with
      the corpus. Grouped-map (pipelined per group) also beat a
      whole-partition mapInArrow (which buffers the full partition and
      serializes the JVM feed / Python compute / write phases).
    - the data plane carries term_id int64, never strings (string
      Arrow/shuffle traffic saturated memory bandwidth and killed
      multi-core scaling).
    - all blocks of all terms in the group encode in one numpy pass
      (codec.encode_group_blocks); binary columns are assembled zero-copy
      from (offsets, buffer) pairs. Row-at-a-time encoding cost
      ~120 µs/block; this path measures ~40× faster.
    """
    k1, b = params.k1, params.b
    import pyarrow as pa  # noqa: PLC0415

    out_schema = pa.schema([
        ("tb", pa.int32()), ("term_id", pa.int64()), ("salt", pa.int32()),
        ("block_id", pa.int32()), ("n_docs", pa.int32()),
        ("first_doc_id", pa.int64()), ("last_doc_id", pa.int64()),
        ("doc_gaps", pa.binary()), ("tf_bytes", pa.binary()),
        ("dl_bytes", pa.binary()), ("block_max_tf_norm", pa.float64()),
        ("sum_tf", pa.int64()), ("n_bytes", pa.int32()),
    ])

    def encode(key: tuple, tbl: pa.Table) -> pa.Table:
        tb = int(key[0].as_py() if hasattr(key[0], "as_py") else key[0])
        salt = int(key[1].as_py() if hasattr(key[1], "as_py") else key[1])
        if tbl.num_rows == 0:
            return out_schema.empty_table()
        o_tids_u = tbl["term_id"].combine_chunks().to_numpy(zero_copy_only=False)
        o_ids_u = tbl["doc_id"].combine_chunks().to_numpy(zero_copy_only=False)
        o_dls_u = tbl["dl"].combine_chunks().to_numpy(zero_copy_only=False)
        order = np.lexsort((o_ids_u, o_tids_u))
        o_tids = o_tids_u[order]
        o_ids = o_ids_u[order]
        o_dls = o_dls_u[order]

        if pre_aggregated:
            # compaction path: input rows are already (term_id, doc_id,
            # tf, dl) postings decoded from segments — no collapse
            tfs = tbl["tf"].combine_chunks().to_numpy(
                zero_copy_only=False)[order]
            p_tids, p_ids, p_dls = o_tids, o_ids, o_dls
        else:
            # run-length collapse occurrences -> (term_id, doc_id, tf, dl)
            newgrp = np.concatenate(
                ([True],
                 (o_tids[1:] != o_tids[:-1]) | (o_ids[1:] != o_ids[:-1]))
            )
            starts_occ = np.flatnonzero(newgrp)
            tfs = np.diff(np.concatenate((starts_occ, [o_ids.size])))
            p_tids = o_tids[starts_occ]
            p_ids = o_ids[starts_occ]
            p_dls = o_dls[starts_occ]

        g = codec.encode_group_blocks(
            p_tids, np.full(p_tids.size, salt, dtype=np.int32),
            p_ids, tfs, p_dls,
            avgdl, k1, b, block_size,
        )
        nb = g["term_id"].size

        def bin_arr(pair):
            offsets, data = pair
            return pa.Array.from_buffers(
                pa.binary(), nb,
                [None, pa.py_buffer(np.ascontiguousarray(offsets).tobytes()),
                 pa.py_buffer(data)],
            )

        return pa.Table.from_arrays(
            [
                pa.array(np.full(nb, tb, dtype=np.int32), type=pa.int32()),
                pa.array(g["term_id"], type=pa.int64()),
                pa.array(g["salt"], type=pa.int32()),
                pa.array(g["block_id"], type=pa.int32()),
                pa.array(g["n_docs"], type=pa.int32()),
                pa.array(g["first_doc_id"], type=pa.int64()),
                pa.array(g["last_doc_id"], type=pa.int64()),
                bin_arr(g["gaps"]),
                bin_arr(g["tf"]),
                bin_arr(g["dl"]),
                pa.array(g["block_max"], type=pa.float64()),
                pa.array(g["sum_tf"], type=pa.int64()),
                pa.array(g["n_bytes"], type=pa.int32()),
            ],
            schema=out_schema,
        )

    return encode


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: BuildConfig | None = None,
    build_id: str = "build-0",
) -> dict:
    """Run (or resume) the full index build; returns build metrics.

    Stages: doc_stats (→ n_docs/avgdl) → terms dim → per-bucket-chunk
    [encoded postings + term_stats + manifest row] → ``meta.json``.
    Killing the process anywhere and rerunning produces the identical
    index — committed buckets are skipped via the manifest (tested) —
    and until the rerun writes ``meta.json`` the directory is not an
    index: readers raise instead of answering from partial postings.
    """
    cfg = cfg or BuildConfig()
    paths = IndexPaths(out_dir)
    t0 = time.time()
    stage_sec: dict[str, float] = {}  # wall time per build stage — the
    # scaling bench embeds these per sample so a slow run shows WHICH
    # stage ate the difference (doc_stats scan vs encode shuffle)
    persist_flat = cfg.persist_flat if cfg.persist_flat is not None else cfg.n_chunks > 1

    # ---- stage 1: doc_stats. Tokenize runs here and again for the flat
    # stream — deliberately NOT persisted: caching the token arrays as
    # deserialized JVM objects creates GC pressure that anti-scales with
    # core count (measured), while the regexp tokenize itself is cheap
    # codegen work that scales linearly. Recompute beats cache.
    docs = tokenized_docs(transcripts)
    if not commit.done(paths.doc_stats):
        # carry every filterable doc attribute the input has — the
        # reference's bool queries pair a match with ts/role filters
        # (query.py:28-99); search_topk_filtered and the DSL metadata
        # clauses read these with the predicate pushed to this parquet scan
        attrs = [c for c in docs.columns
                 if c not in ("conv_id", "turn_idx", "doc_id", "tokens")]
        commit.overwrite(docs.select(
            "doc_id", "conv_id", "turn_idx",
            F.size("tokens").alias("dl"), *attrs
        ), paths.doc_stats)

    stage_sec["doc_stats"] = round(time.time() - t0, 3)

    agg = spark.read.parquet(paths.doc_stats).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum(F.expr("abs(doc_id) % 1000000007")).alias("fingerprint"),
    ).collect()[0]
    n_docs, avgdl = int(agg["n_docs"]), float(agg["avgdl"] or 0.0)

    meta = {
        "build_id": build_id,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "k1": cfg.params.k1,
        "b": cfg.params.b,
        "n_ranges": cfg.n_ranges,
        "n_buckets": cfg.n_buckets,
        "block_size": cfg.block_size,
        "fingerprint": int(agg["fingerprint"] or 0),
        "has_positions": bool(cfg.store_positions),
    }

    # ---- which buckets are already committed? (resume point)
    # A manifest append commits by moving its part file in; a kill
    # during the first append leaves none, which means nothing is
    # committed. A part file that cannot be read is corruption: fail
    # loud rather than re-encode every bucket next to the old rows.
    committed: set[int] = set()
    if glob.glob(os.path.join(paths.manifest, "part-*")):
        try:
            mrows = spark.read.parquet(paths.manifest).select("tb").collect()
        except Exception as e:
            raise RuntimeError(
                f"unreadable build manifest {paths.manifest}: {e}") from e
        committed = {int(r["tb"]) for r in mrows}
    todo = [tb for tb in range(cfg.n_buckets) if tb not in committed]
    if not todo:
        commit.write_json(paths.meta, meta)
        return {**meta, "resumed": True, "n_new_buckets": 0,
                "elapsed_sec": time.time() - t0}
    # buckets are missing, so this dir is not a committed index (e.g. a
    # build killed by a version that wrote meta.json first) until the end
    commit.remove(paths.meta)

    # ---- stage 1b: terms dim — the ONLY place term strings are stored.
    # distinct() partial-aggregates map-side, so the shuffle is ~|vocab|
    # rows regardless of corpus size.
    if not commit.done(paths.terms):
        commit.overwrite(
            docs.select(F.explode("tokens").alias("term")).distinct()
            .select(
                "term", term_id_expr(F.col("term")).alias("term_id"))
            .withColumn("tb", term_bucket_of_id(F.col("term_id"), cfg.n_buckets)),
            paths.terms, ["tb"])

    stage_sec["terms_dim"] = round(
        time.time() - t0 - sum(stage_sec.values()), 3)

    # ---- stage 2: flat occurrence stream (optionally persisted, tb-pruned)
    flat = _flat_occurrences(docs, cfg)
    if persist_flat:
        if not commit.done(paths.flat):
            commit.overwrite(flat, paths.flat, ["tb"])
        flat = spark.read.parquet(paths.flat)

    encoder = _make_encoder(avgdl, cfg.params, cfg.block_size)
    chunk_size = max(1, (cfg.n_buckets + cfg.n_chunks - 1) // cfg.n_chunks)
    metrics_rows = []

    for start in range(0, cfg.n_buckets, chunk_size):
        chunk = [tb for tb in range(start, min(start + chunk_size, cfg.n_buckets))
                 if tb in todo]
        if not chunk:
            continue
        tc0 = time.time()
        part = flat.where(F.col("tb").isin(chunk))

        # encoded posting blocks — the one heavy shuffle, salted by design
        commit.overwrite_partitions(
            part.groupBy("tb", "salt")
            .applyInArrow(encoder, schema=BLOCKS_SCHEMA),
            paths.postings, ["tb"])

        # positions sidecar (optional — ES index_options=positions / the
        # Lucene .pos file): one row per (term, doc) with the term's
        # in-doc token offsets, ascending. posexplode + the grouped
        # collect are whole-stage-codegen; the shuffle key (term_id,
        # doc_id) spreads hot terms over their documents, so no salt is
        # needed. tb-partitioned like every other per-term table so the
        # phrase read prunes to the query's buckets.
        if cfg.store_positions:
            commit.overwrite_partitions(
                docs.select(
                    "doc_id", F.posexplode("tokens").alias("pos", "term"))
                .select(term_id_expr(F.col("term")).alias("term_id"),
                        "doc_id", "pos")
                .withColumn(
                    "tb", term_bucket_of_id(F.col("term_id"), cfg.n_buckets))
                .where(F.col("tb").isin(chunk))
                .groupBy("tb", "term_id", "doc_id")
                .agg(F.sort_array(F.collect_list("pos")).alias("positions")),
                paths.positions, ["tb"])

        # term_stats + lineage metrics derive from the committed blocks'
        # METADATA columns only (Parquet prunes the binary payloads):
        # df = Σ n_docs over a term's blocks, cf = Σ sum_tf. The term
        # string is attached from the terms dim by a PLAIN join on
        # (tb, term_id) — the dim is |vocab|-cardinality, so a broadcast
        # hint would pin a vocabulary ceiling (hundreds of MB per chunk
        # at a 10^8-term vocab); the shuffle join scales with vocab and
        # AQE still picks broadcast when the dim is actually small.
        written = (
            spark.read.parquet(paths.postings)
            .where(F.col("tb").isin(chunk))
            .select("tb", "term_id", "salt", "n_docs", "sum_tf", "n_bytes")
        )
        terms_dim = (
            spark.read.parquet(paths.terms)
            .where(F.col("tb").isin(chunk)).select("tb", "term", "term_id")
        )
        commit.overwrite_partitions(
            written.groupBy("tb", "term_id")
            .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf"))
            .join(terms_dim, ["tb", "term_id"])
            .select("tb", "term", "term_id", "df", "cf"),
            paths.term_stats, ["tb"])
        elapsed = time.time() - tc0

        per_group = written.groupBy("tb", "term_id", "salt").agg(
            F.sum("n_docs").alias("g"),
            F.count(F.lit(1)).alias("nb"),
            F.sum("n_bytes").alias("by"),
        )
        stats = per_group.groupBy("tb").agg(
            F.sum("g").alias("n_postings"),
            F.sum("nb").alias("n_blocks"),
            F.countDistinct("term_id").alias("n_terms"),
            F.sum("by").alias("bytes_encoded"),
            F.max("g").alias("max_g"),
            F.avg("g").alias("avg_g"),
        ).collect()
        skew_by_tb = {int(r["tb"]): float(r["max_g"]) / max(float(r["avg_g"]), 1e-9)
                      for r in stats}
        for r in stats:
            tb = int(r["tb"])
            metrics_rows.append({
                "build_id": build_id,
                "tb": tb,
                "n_terms": int(r["n_terms"]),
                "n_postings": int(r["n_postings"]),
                "n_blocks": int(r["n_blocks"]),
                "bytes_encoded": int(r["bytes_encoded"]),
                "elapsed_sec": elapsed / max(len(chunk), 1),
                "postings_per_sec": float(r["n_postings"]) / max(elapsed, 1e-9)
                * max(len(chunk), 1),
                "skew_ratio": skew_by_tb.get(tb, 1.0),
                "input_fingerprint": meta["fingerprint"],
                "committed_at": time.time(),
            })
        # chunk commit: manifest append AFTER the chunk's data is written
        commit.append(spark.createDataFrame(
            pd.DataFrame(metrics_rows[-len(stats):])), paths.manifest)

    # index commit: meta.json last, once every bucket is in place
    commit.write_json(paths.meta, meta)
    total = time.time() - t0
    stage_sec["encode_commit"] = round(total - sum(stage_sec.values()), 3)
    n_postings = sum(m["n_postings"] for m in metrics_rows)
    return {
        **meta,
        "resumed": bool(committed),
        "n_new_buckets": len(todo),
        "n_postings": n_postings,
        "elapsed_sec": total,
        "turns_per_sec": n_docs / max(total, 1e-9),
        "postings_per_sec": n_postings / max(total, 1e-9),
        "skew_ratio_max": max((m["skew_ratio"] for m in metrics_rows), default=1.0),
        "stage_sec": stage_sec,
    }


def compact_segments(
    spark: SparkSession,
    segment_dirs: list[str],
    out_dir: str,
    cfg: BuildConfig | None = None,
    build_id: str = "compact-0",
) -> dict:
    """Lucene-style SEGMENT MERGE: fold independently-built index
    segments into one index WITHOUT re-tokenizing any text.

    Postings are decoded back to (term_id, doc_id, tf, dl) rows
    (vectorized bulk block decode inside ``mapInPandas``) and re-encoded
    under the target layout through the same grouped Arrow encoder the
    build uses (``pre_aggregated`` mode skips the occurrence collapse —
    tf survives the round trip). doc_stats and the terms dim are plain
    unions; term_stats/df/cf and the global n_docs/avgdl are recomputed,
    so the output equals an index built from the concatenated corpus
    (search rank+score identity is tested). Doc sets must be disjoint
    across segments — the ingest dedup guarantee.

    Why it matters at 10¹²-turn scale: daily deltas accumulate as small
    segments (query cost grows with segment count in
    :func:`..search.compressed.search_topk_multi`); this folds N of them
    back into one in a single shuffle over the already-compressed
    postings — no tokenize pass over the raw corpus.

    Every table is a whole-dir overwrite and ``meta.json`` is written
    last, as in :func:`build_index`: a killed compaction leaves no index
    at ``out_dir``, and rerunning it rewrites every table.
    """
    cfg = cfg or BuildConfig()
    paths = IndexPaths(out_dir)
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    metas = []
    for d in segment_dirs:
        with open(IndexPaths(d).meta) as f:
            metas.append(json.load(f))
    if any((float(m["k1"]), float(m["b"]))
           != (cfg.params.k1, cfg.params.b) for m in metas):
        raise ValueError("segments disagree with target BM25 params")
    commit.remove(paths.meta)  # an old index here stops being one first
    n_docs = sum(int(m["n_docs"]) for m in metas)
    avgdl = (sum(float(m["avgdl"]) * int(m["n_docs"]) for m in metas)
             / max(n_docs, 1))
    fingerprint = sum(int(m.get("fingerprint", 0)) for m in metas)

    # doc_stats: plain union (segments may differ in attribute columns)
    ds = None
    for d in segment_dirs:
        part = spark.read.parquet(IndexPaths(d).doc_stats)
        ds = part if ds is None else ds.unionByName(
            part, allowMissingColumns=True)
    commit.overwrite(ds, paths.doc_stats)

    # terms dim: union-distinct, re-bucketed for the target layout
    td = None
    for d in segment_dirs:
        part = spark.read.parquet(IndexPaths(d).terms).select(
            "term", "term_id")
        td = part if td is None else td.unionByName(part)
    commit.overwrite(
        td.distinct()
        .withColumn("tb", term_bucket_of_id(F.col("term_id"), cfg.n_buckets)),
        paths.terms, ["tb"])

    # positions carry through only when EVERY segment has them —
    # a partial sidecar would silently miss phrase matches in the
    # uncovered docs, so it is all-or-nothing (mirrors Lucene, where a
    # merge keeps .pos iff the field indexed positions in all segments)
    has_pos = all(m.get("has_positions") for m in metas)
    meta = {
        "build_id": build_id,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "k1": cfg.params.k1,
        "b": cfg.params.b,
        "n_ranges": cfg.n_ranges,
        "n_buckets": cfg.n_buckets,
        "block_size": cfg.block_size,
        "fingerprint": fingerprint,
        "has_positions": has_pos,
    }

    if has_pos:
        # disjoint doc sets -> plain union; only tb changes under the
        # target layout (positions themselves are layout-independent)
        pos = None
        for d in segment_dirs:
            part = spark.read.parquet(IndexPaths(d).positions).select(
                "term_id", "doc_id", "positions")
            pos = part if pos is None else pos.unionByName(part)
        commit.overwrite(
            pos.withColumn(
                "tb", term_bucket_of_id(F.col("term_id"), cfg.n_buckets)),
            paths.positions, ["tb"])

    # decoded postings stream: one row per (term, doc) posting.
    # ONE decode_blocks_bulk call per Arrow batch — the bulk API's
    # amortization exists precisely so no per-block Python loop is paid
    # (same pattern as search/compressed._Postings.decode).
    def decode(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({
                    "term_id": pd.Series([], dtype="int64"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "tf": pd.Series([], dtype="int64"),
                    "dl": pd.Series([], dtype="int64"),
                })
                continue
            n_docs = pdf["n_docs"].to_numpy()
            ids, tfs, dls = codec.decode_blocks_bulk(
                n_docs, pdf["first_doc_id"].to_numpy(),
                list(pdf["doc_gaps"]), list(pdf["tf_bytes"]),
                list(pdf["dl_bytes"]),
            )
            yield pd.DataFrame({
                "term_id": np.repeat(
                    pdf["term_id"].to_numpy(np.int64), n_docs),
                "doc_id": ids,
                "tf": tfs.astype(np.int64),
                "dl": dls.astype(np.int64),
            })

    posts = None
    for d in segment_dirs:
        blk = spark.read.parquet(IndexPaths(d).postings).select(
            "term_id", "n_docs", "first_doc_id",
            "doc_gaps", "tf_bytes", "dl_bytes")
        p = blk.mapInPandas(
            decode, schema="term_id long, doc_id long, tf long, dl long")
        posts = p if posts is None else posts.unionByName(p)
    flat = (
        posts
        .withColumn("tb", term_bucket_of_id(F.col("term_id"), cfg.n_buckets))
        .withColumn("salt", salt_expr(F.col("doc_id"), cfg.n_ranges))
    )

    encoder = _make_encoder(avgdl, cfg.params, cfg.block_size,
                            pre_aggregated=True)
    commit.overwrite(
        flat.groupBy("tb", "salt").applyInArrow(encoder, schema=BLOCKS_SCHEMA),
        paths.postings, ["tb"])

    written = spark.read.parquet(paths.postings).select(
        "tb", "term_id", "n_docs", "sum_tf")
    # plain (tb, term_id) join — terms dim is |vocab|-cardinality, never
    # broadcast it (see build_index term_stats rationale)
    terms_dim = spark.read.parquet(paths.terms).select(
        "tb", "term", "term_id")
    commit.overwrite(
        written.groupBy("tb", "term_id")
        .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf"))
        .join(terms_dim, ["tb", "term_id"])
        .select("tb", "term", "term_id", "df", "cf"),
        paths.term_stats, ["tb"])
    n_postings = written.agg(F.sum("n_docs")).collect()[0][0] or 0
    commit.write_json(paths.meta, meta)
    total = time.time() - t0
    return {
        **meta,
        "n_segments": len(segment_dirs),
        "n_postings": int(n_postings),
        "elapsed_sec": total,
        "postings_per_sec": int(n_postings) / max(total, 1e-9),
    }
