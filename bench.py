#!/usr/bin/env python
"""Benchmark harness — the engine's feedback loop.

Measures, on ``local[$SPARK_GRAFT_CPUS]`` (default 32) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1):

1. headline analytical queries from ``__spark_entry__.queries()`` — each
   executed end-to-end to the noop sink (full plan runs, nothing collected);
2. the flagship north-rule pipeline: synthetic ``transcripts`` corpus →
   salted compressed inverted-index build (turns/sec) → BM25 top-k over the
   reference query set (mean + p95 latency);
3. scaling evidence (sandbox proxy for the N → 4N executor rule): the SAME
   index-build job + input at ``local[1]/[4]/[8]/[32]``; reports
   throughput at each level plus min-of-N, calm-verified, and
   temporally-paired (median over reps) efficiency for every N→4N pair.
   Skip with SPARK_GRAFT_SKIP_SCALING=1 when iterating.

Output contract (the driver records only a ~2000-char stdout TAIL):
  - ``DETAIL {...}`` — the full evidence blob (also written to
    bench_detail_last.json);
  - CHECK lines — per-query regression diff vs the prior round's
    artifact (>1.5x and >0.3 s slower = REGRESSION; offline mode:
    ``bench.py --check-against PRIOR [CURRENT]`` exits 1 on FAIL);
  - the FINAL line — a compact summary JSON (headline total +
    per-query minima across both headline levels, build throughput +
    fastest measured level, warm mean/p95, scaling pairs, check
    verdict), sized to always fit the tail; also written to
    bench_summary_last.json.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# corpus size for the flagship build/query/scaling measurements
N_TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "1000000"))

HEADLINE = [
    "bm25_topk",
    "pricing_summary",
    "top_failing_users",
    "anti_join_customers",
    "cost_by_segment",
    "top_revenue_orders",
    "flakiness_users",
    "dedup_keep_first",
    "trends_weekly",
    "time_range_filter",
    "conjunctive_match",
    "exact_dedup",
    "minhash_candidates",
    "token_counts",
    "quality",
    "language_id",
    "similarity_topk",
]


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _run_to_sink(df) -> None:
    """Execute the full plan without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()


def _session(cores: int, shuffle_partitions: int | None = None):
    from prow_jobs_scraper_spark.session import get_spark

    return get_spark(
        app_name=f"bench-local[{cores}]",
        cores=cores,
        shuffle_partitions=shuffle_partitions or cores,
    )


# headline + warm-latency sets run >=2 interleaved passes and report the
# per-entry MINIMUM (same protocol the scaling block already uses): the
# host's bursty CPU steal made round-2's single-sample headline read as a
# uniform 1.5x regression on unchanged queries. Interleaving (pass 1 all
# queries, pass 2 all queries, ...) decorrelates a steal burst from any
# single entry; min-of-N is the noise-robust estimator under one-sided
# interference. Raw samples ride along so the artifact shows the spread.
HEADLINE_REPS = int(os.environ.get("SPARK_GRAFT_HEADLINE_REPS", "3"))


def bench_queries(spark) -> tuple[dict[str, float], dict[str, list[float]]]:
    import __spark_entry__ as entrymod

    qmap = dict(entrymod.queries())

    def _bm25_single(spark, sf_dir):
        # the entry grew an and/or union mode for driver-oracle window
        # coverage; the benchmark keeps measuring the ORIGINAL
        # single-mode conjunctive workload so per-query minima stay
        # comparable round-over-round (the regression guard diffs them)
        from pyspark.sql import functions as F  # noqa: PLC0415
        from pyspark.sql.window import Window  # noqa: PLC0415

        from prow_jobs_scraper_spark.search.naive import (  # noqa: PLC0415
            naive_bm25_topk,
        )
        docs = spark.read.parquet(os.path.join(sf_dir,
                                               "documents.parquet"))
        topk = naive_bm25_topk(docs, "key agg", 10)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.select(
            "doc_id", F.row_number().over(w).alias("rank"),
            F.round("score", 4).alias("score"))

    qmap["bm25_topk"] = _bm25_single
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(max(1, HEADLINE_REPS)):
        for name in HEADLINE:
            t0 = time.time()
            _run_to_sink(qmap[name](spark, SF_DIR))
            samples[name].append(round(time.time() - t0, 3))
    return {name: min(v) for name, v in samples.items()}, samples


def bench_dsl_ops(spark) -> dict[str, float]:
    """Round-5 request-surface ops timed on the SF documents table
    (naive executor; min-of-HEADLINE_REPS each). Kept OUT of HEADLINE
    so the round-over-round regression check keeps comparing a stable
    key set; reported alongside in detail + summary."""
    from prow_jobs_scraper_spark.search.dsl import (  # noqa: PLC0415
        dsl_aggregate,
        execute_request,
        search_dsl,
    )
    from prow_jobs_scraper_spark.search.suggest import (  # noqa: PLC0415
        suggest_phrase,
        suggest_terms,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_q = {"match": {"text": {"query": "key agg", "operator": "or"}}}

    def _fan(d):
        # the sf documents table is ONE unsplittable parquet file — fan
        # it out so the per-doc-heavy stages parallelize (the entry
        # file's _spread rule; never fires on a real multi-file corpus)
        target = spark.sparkContext.defaultParallelism
        if d.rdd.getNumPartitions() < max(2, target // 4):
            return d.repartition(target)
        return d

    def _rep_stats(d):
        from prow_jobs_scraper_spark.operators.textqc import (  # noqa: PLC0415
            repetition_stats,
        )
        return repetition_stats(_fan(d)).select(
            "doc_id", "dup_line_frac", "top_2gram_char_frac",
            "dup_5gram_frac", "dup_10gram_frac")

    def _contamination(d):
        from pyspark.sql import functions as F  # noqa: PLC0415

        from prow_jobs_scraper_spark.functions.tokenize import (  # noqa: PLC0415
            tokenize_column,
        )
        from prow_jobs_scraper_spark.operators.textqc import (  # noqa: PLC0415
            contamination_check,
        )
        bench = d.where(F.col("doc_id") % 37 == 0).select(
            F.array_join(F.slice(tokenize_column(F.col("text")), 1, 20),
                         " ").alias("text"))
        return contamination_check(_fan(d), bench, n=13)

    jobs = {
        "rescore_search": lambda: execute_request(docs, {
            "query": base_q, "size": 10,
            "rescore": {"window_size": 50, "query": {
                "rescore_query": {"match_phrase": {
                    "text": "table hash"}},
                "rescore_query_weight": 2.0}}}),
        "highlight_search": lambda: execute_request(docs, {
            "query": base_q, "size": 10,
            "highlight": {"fields": {"text": {}},
                          "number_of_fragments": 0}}),
        "top_hits_agg": lambda: dsl_aggregate(docs, {
            "query": base_q,
            "aggs": {"by_lang": {
                "terms": {"field": "lang", "size": 5},
                "aggs": {"top": {"top_hits": {
                    "size": 3, "sort": [{"n_chars": "desc"}],
                    "_source": ["doc_id", "source"]}}}}}}),
        "mlt_topk": lambda: search_dsl(docs, {
            "query": {"more_like_this": {
                "fields": ["text"],
                "like": "hash hash join join data data"}}}, 10),
        "suggest_terms": lambda: suggest_terms(docs, {
            "suggest": {"s": {"text": "tabel scann",
                              "term": {"field": "text",
                                       "prefix_length": 0}}}}),
        "suggest_phrase": lambda: suggest_phrase(docs, {
            "suggest": {"s": {"text": "tabel scann", "phrase": {
                "field": "text",
                "direct_generator": [{"prefix_length": 0}]}}}}),
        "sig_text_agg": lambda: dsl_aggregate(docs, {
            "query": base_q,
            "aggs": {"s": {"significant_text": {"field": "text",
                                                "min_doc_count": 2}}}}),
        # round-5 final session: the training-pipeline ops + the two
        # new query/agg surfaces, timed on the same SF documents table
        "repetition_qc": lambda: _rep_stats(docs),
        "contamination": lambda: _contamination(docs),
        "span_not_search": lambda: search_dsl(docs, {
            "query": {"span_not": {
                "include": {"span_term": {"text": "hash"}},
                "exclude": {"span_term": {"text": "table"}},
                "pre": 1, "post": 0}}}, 10),
        "matrix_stats_agg": lambda: dsl_aggregate(docs, {
            "query": base_q,
            "aggs": {"m": {"matrix_stats": {
                "fields": ["n_chars", "doc_id"]}}}}),
    }
    out = {}
    for name, fn in jobs.items():
        best = None
        for _ in range(max(1, HEADLINE_REPS)):
            t0 = time.time()
            _run_to_sink(fn())
            el = time.time() - t0
            best = el if best is None else min(best, el)
        out[name] = round(best, 3)
    return out


def _materialize_corpus(spark, path: str) -> None:
    from prow_jobs_scraper_spark.synth import synth_transcripts

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_transcripts(spark, N_TURNS, seed=42, n_partitions=32).write.mode(
            "overwrite"
        ).parquet(path)


def bench_flagship(spark, corpus_path: str) -> tuple[dict, dict]:
    """Index build throughput + BM25 query latency on the built index."""
    from prow_jobs_scraper_spark.index.build import BuildConfig, build_index
    from prow_jobs_scraper_spark.search.compressed import search_topk
    from prow_jobs_scraper_spark.synth import reference_query_set

    transcripts = spark.read.parquet(corpus_path)
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        t0 = time.time()
        metrics = build_index(
            spark, transcripts, idx_dir, BuildConfig(n_ranges=32, n_buckets=16)
        )
        build_sec = time.time() - t0
        build = {
            "n_turns": metrics["n_docs"],
            "build_sec": round(build_sec, 3),
            "turns_per_sec": round(metrics["n_docs"] / build_sec, 1),
            "postings_per_sec": round(metrics.get("postings_per_sec", 0.0), 1),
            "skew_ratio_max": round(metrics.get("skew_ratio_max", 1.0), 3),
        }

        # warm latency: interleaved min-of-N per query (see HEADLINE_REPS)
        qset = reference_query_set()
        lat_samples: dict[str, list[float]] = {q["query_id"]: [] for q in qset}
        for _ in range(max(1, HEADLINE_REPS)):
            for q in qset:
                t0 = time.time()
                search_topk(spark, idx_dir, q["query_text"], q["k"]).collect()
                lat_samples[q["query_id"]].append(
                    round(time.time() - t0, 4))
        lat = sorted(min(v) for v in lat_samples.values())
        p95 = lat[min(len(lat) - 1, int(round(0.95 * len(lat))) - 1)]
        from prow_jobs_scraper_spark.search.compressed import search_topk_many

        batch_samples = []
        for _ in range(max(1, HEADLINE_REPS)):
            t0 = time.time()
            search_topk_many(spark, idx_dir, qset).collect()
            batch_samples.append(round(time.time() - t0, 4))
        query_latency = {
            "n_queries": len(lat),
            "mean_sec": round(sum(lat) / len(lat), 4),
            "p95_sec": round(p95, 4),
            "max_sec": round(lat[-1], 4),
            "batch_all_queries_sec": min(batch_samples),
            "batch_samples_sec": batch_samples,
            "per_query_samples_sec": lat_samples,
        }
        return build, query_latency
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def bench_ann(spark) -> dict:
    """Persisted-ANN payoff: index build once, then repeated queries are
    partition-pruned probes; versus the one-shot path that recomputes
    signatures over the full corpus per query (the round-1 defect)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_topk,
        ivf_topk,
        load_ivf_centroids,
    )

    # the sf embeddings table is tiny (500 rows) — synthesize a corpus
    # big enough that probe-vs-full-scan is data-bound, not job-overhead
    n_vecs = int(os.environ.get("SPARK_GRAFT_BENCH_VECS", "100000"))
    dim, n_lists, n_probe = 64, 64, 8

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(int(ids[0]) if len(ids) else 0)
            m = rng.standard_normal((len(ids), dim)).astype(np.float32)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(m)})

    emb = (
        spark.range(n_vecs).repartition(CPUS)
        .mapInPandas(gen, schema="vec_id long, embedding array<float>")
    )
    qs = [[float(x) for x in r["embedding"]]
          for r in emb.where(F.col("vec_id") < 8).collect()]
    d = tempfile.mkdtemp(prefix="bench_ivf_")
    try:
        t0 = time.time()
        build_ivf_index(emb, d, n_lists=n_lists)
        build_sec = time.time() - t0
        C = load_ivf_centroids(spark, d)
        # warm one probe (plan/codegen), then time the rest
        ivf_probe_topk(spark, d, qs[0], 10, n_probe=n_probe,
                       centroids=C).collect()
        t0 = time.time()
        for q in qs:
            ivf_probe_topk(spark, d, q, 10, n_probe=n_probe,
                           centroids=C).collect()
        probe_sec = (time.time() - t0) / len(qs)
        t0 = time.time()
        for q in qs[:2]:
            ivf_topk(emb, q, 10, n_lists=n_lists, n_probe=n_probe).collect()
        oneshot_sec = (time.time() - t0) / 2
        return {
            "n_vecs": n_vecs,
            "build_sec": round(build_sec, 3),
            "probe_mean_sec": round(probe_sec, 4),
            "oneshot_mean_sec": round(oneshot_sec, 4),
            "n_queries": len(qs),
            "speedup_vs_oneshot": round(
                oneshot_sec / max(probe_sec, 1e-9), 2),
        }
    except Exception as exc:  # noqa: BLE001
        return {"error": str(exc)[:200]}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def bench_positions(spark, corpus_path: str) -> dict:
    """Positions-sidecar cost disclosure (round-3 verdict stretch #8):
    a warm baseline build and a ``store_positions=True`` build run
    BACK-TO-BACK on the same corpus + config (warm-vs-warm, so the
    multiplier isn't polluted by first-build JVM/codegen warm-up),
    reporting the build-time multiplier and the sidecar's on-disk bytes
    next to the postings bytes — the numbers behind the documented
    trade-off (phrase verify without corpus access vs size/build cost).
    """
    from prow_jobs_scraper_spark.index.build import BuildConfig, build_index

    def _tree_bytes(root: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                total += os.path.getsize(os.path.join(dirpath, fn))
        return total

    transcripts = spark.read.parquet(corpus_path)
    base_d = tempfile.mkdtemp(prefix="bench_posbase_")
    pos_d = tempfile.mkdtemp(prefix="bench_posidx_")
    try:
        t0 = time.time()
        build_index(spark, transcripts, base_d,
                    BuildConfig(n_ranges=32, n_buckets=16))
        base_sec = time.time() - t0
        t0 = time.time()
        build_index(spark, transcripts, pos_d,
                    BuildConfig(n_ranges=32, n_buckets=16,
                                store_positions=True))
        pos_sec = time.time() - t0
        postings_b = _tree_bytes(os.path.join(pos_d, "postings"))
        sidecar_b = _tree_bytes(os.path.join(pos_d, "positions"))
        return {
            "baseline_build_sec": round(base_sec, 3),
            "build_sec": round(pos_sec, 3),
            "build_multiplier_vs_baseline": round(
                pos_sec / max(base_sec, 1e-9), 3),
            "postings_bytes": postings_b,
            "positions_bytes": sidecar_b,
            "positions_to_postings_ratio": round(
                sidecar_b / max(postings_b, 1), 3),
        }
    except Exception as exc:  # noqa: BLE001
        return {"error": str(exc)[:200]}
    finally:
        shutil.rmtree(base_d, ignore_errors=True)
        shutil.rmtree(pos_d, ignore_errors=True)


# ---- host-contention instrumentation (round-3 verdict #6): every
# scaling sample carries machine-checkable calm/contended evidence, so
# the efficiency claim cites calm-window pairs instead of narrative.
_PROBE_ITERS = 2_000_000


def _cpu_probe_sec() -> float:
    """Fixed single-thread pure-Python workload — wall time is a direct
    probe of host CPU contention (no IO, no JVM, no allocation).
    Best-of-2 so a single scheduler hiccup doesn't mislabel a sample."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        x = 0
        for i in range(_PROBE_ITERS):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def _read_steal() -> tuple[float, float]:
    """(steal_jiffies, total_jiffies) from the aggregate /proc/stat cpu
    line; 0 steal on hosts that don't expose it."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [float(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0.0), sum(vals)
    except Exception:  # noqa: BLE001
        return 0.0, 0.0


# a sample is CALM when its probes stay within this factor of the quiet
# baseline AND /proc/stat steal during the sample stays under 2%
_PROBE_CALM_FACTOR = float(os.environ.get("SPARK_GRAFT_CALM_FACTOR", "1.3"))
_STEAL_CALM_PCT = float(os.environ.get("SPARK_GRAFT_CALM_STEAL", "2.0"))


def _scale_worker(cores: int, corpus_path: str) -> None:
    """Subprocess entry: one build at local[cores], JSON on stdout."""
    from prow_jobs_scraper_spark.index.build import BuildConfig, build_index

    spark = _session(cores, shuffle_partitions=cores)
    transcripts = spark.read.parquet(corpus_path)
    idx_dir = tempfile.mkdtemp(prefix=f"bench_scale_{cores}_")
    try:
        t0 = time.time()
        m = build_index(
            spark, transcripts, idx_dir, BuildConfig(n_ranges=32, n_buckets=16)
        )
        elapsed = time.time() - t0
        print(json.dumps({
            "elapsed_sec": round(elapsed, 3),
            "turns_per_sec": round(m["n_docs"] / elapsed, 1),
            # per-stage wall time: a contended sample shows WHICH stage
            # ate the difference (round-4 verdict asked for exactly this
            # breakdown when a calm-tagged pair looks wrong)
            "stage_sec": m.get("stage_sec", {}),
        }))
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        spark.stop()


# parallelism levels — the default holds TWO true N->4N pairs (1->4 at
# low absolute parallelism, least affected by the host's >8-thread
# memory-bus ceiling, and 8->32 at the ceiling; BASELINE.md "Measured
# results" §1). Override with SPARK_GRAFT_SCALE_LEVELS=...
SCALE_LEVELS = tuple(
    int(x) for x in
    os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "1,4,8,32").split(","))
# >=3 interleaved reps by default: the host shows bursty CPU steal, so
# single-sample scaling numbers are noise (round-1 verdict asked that the
# bench artifact itself carry the multi-sample evidence, min-of-N)
SCALE_REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))


def bench_scaling(corpus_path: str) -> dict:
    """Same build job + same input at three parallelism levels (N vs 4N
    proxy pairs: 2->8 and 8->32).

    Each run executes in its own subprocess so no JVM heap or allocator
    state leaks between levels. Levels are interleaved across SCALE_REPS
    repetitions and the per-level MINIMUM elapsed is reported: the
    sandbox host shows bursty external CPU steal (same-command reruns
    vary up to 2x), and min-of-N is the standard noise-robust estimator
    under one-sided interference. All raw samples are reported too.
    """
    import subprocess

    # initial probes (the block may START contended — the baseline is
    # finalized post-hoc as the best probe seen ANYWHERE in the block,
    # so a busy start can't make the calm rule lenient)
    all_probes = [_cpu_probe_sec() for _ in range(3)]

    samples: dict[int, list] = {c: [] for c in SCALE_LEVELS}
    for _ in range(SCALE_REPS):
        for cores in SCALE_LEVELS:
            try:
                steal0, total0 = _read_steal()
                probe_before = _cpu_probe_sec()
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--scale-worker", str(cores), corpus_path],
                    capture_output=True, text=True, timeout=900,
                )
                probe_after = _cpu_probe_sec()
                steal1, total1 = _read_steal()
                all_probes += [probe_before, probe_after]
                lines = [ln for ln in proc.stdout.splitlines()
                         if ln.startswith("{")]
                if lines:
                    rec = json.loads(lines[-1])
                    steal_pct = (100.0 * (steal1 - steal0)
                                 / max(total1 - total0, 1.0))
                    rec.update({
                        "steal_pct": round(steal_pct, 3),
                        "probe_before_sec": round(probe_before, 4),
                        "probe_after_sec": round(probe_after, 4),
                    })
                    samples[cores].append(rec)
            except Exception:
                continue  # a lost sample must never lose the bench line

    probe_base = min(all_probes)
    for recs in samples.values():
        level_min = min((r["elapsed_sec"] for r in recs), default=0.0)
        for rec in recs:
            worst = max(rec["probe_before_sec"], rec["probe_after_sec"])
            rec["probe_calm"] = bool(
                rec["steal_pct"] < _STEAL_CALM_PCT
                and worst < probe_base * _PROBE_CALM_FACTOR)
            # OUTCOME gate (round-4 fix): the probe is a single-thread
            # CPU sample taken OUTSIDE the run window — it cannot see
            # memory-bus contention or a mid-run burst, and round 4's
            # artifact proved it mislabels (a 131 s local[1] run tagged
            # calm while the 61 s run of the same config was rejected on
            # a 7%-over-threshold probe). A sample that ran >=35% slower
            # than the SAME configuration's best sample was contended by
            # definition, whatever the probe said; calm = probe_calm AND
            # within 1.35x of the level minimum.
            rec["calm"] = bool(
                rec["probe_calm"]
                and rec["elapsed_sec"] <= level_min * 1.35)

    def _best(recs: list) -> dict:
        return min(recs, key=lambda r: r["elapsed_sec"])

    best = {c: _best(samples[c]) for c in SCALE_LEVELS if samples[c]}
    calm_best = {
        c: _best([r for r in samples[c] if r.get("calm")])
        for c in SCALE_LEVELS
        if any(r.get("calm") for r in samples[c])
    }
    out: dict = {
        f"local{c}": {
            **best[c],
            "all_elapsed_sec": [r["elapsed_sec"] for r in samples[c]],
            "samples": samples[c],
        }
        for c in best
    }
    out["probe_base_sec"] = round(probe_base, 4)
    out["calm_rule"] = (
        f"steal_pct < {_STEAL_CALM_PCT} and probe <= "
        f"{_PROBE_CALM_FACTOR}x quiet baseline and elapsed <= "
        f"1.35x level minimum")
    if best:
        out["best_level"] = max(
            best, key=lambda c: best[c]["turns_per_sec"])
    # report every true N->4N pair among the levels (the north rule's
    # shape); fall back to consecutive levels if none exists
    pairs = [(lo, hi) for lo in SCALE_LEVELS for hi in SCALE_LEVELS
             if hi == 4 * lo]
    if not pairs:
        pairs = list(zip(SCALE_LEVELS, SCALE_LEVELS[1:]))
    for lo, hi in pairs:
        if lo in best and hi in best:
            sp = best[hi]["turns_per_sec"] / best[lo]["turns_per_sec"]
            out[f"speedup_{lo}_to_{hi}"] = round(sp, 3)
            out[f"efficiency_{lo}_to_{hi}"] = round(sp / (hi / lo), 3)
        if lo in calm_best and hi in calm_best:
            # the HEADLINE pair: both samples individually verified calm
            sp = (calm_best[hi]["turns_per_sec"]
                  / calm_best[lo]["turns_per_sec"])
            out[f"calm_speedup_{lo}_to_{hi}"] = round(sp, 3)
            out[f"calm_efficiency_{lo}_to_{hi}"] = round(
                sp / (hi / lo), 3)
        # temporally-PAIRED efficiency: within one interleaved rep the
        # lo and hi runs execute back-to-back, so they share the host
        # window — the pair is immune to cross-rep drift that min-of-N
        # endpoints can straddle. The MEDIAN over reps is reported (the
        # best rep overstates scaling), with every rep as evidence.
        reps = range(min(len(samples.get(lo, [])),
                         len(samples.get(hi, []))))
        rep_effs = [(samples[hi][r]["turns_per_sec"]
                     / samples[lo][r]["turns_per_sec"]) / (hi / lo)
                    for r in reps]
        if rep_effs:
            out[f"paired_efficiency_{lo}_to_{hi}"] = round(
                statistics.median(rep_effs), 3)
            out[f"paired_evidence_{lo}_to_{hi}"] = {
                "lo_elapsed_sec": [samples[lo][r]["elapsed_sec"]
                                   for r in reps],
                "hi_elapsed_sec": [samples[hi][r]["elapsed_sec"]
                                   for r in reps],
                "all_rep_efficiencies": [round(e, 3) for e in rep_effs]}
    return out


# ---- compact summary + regression guard (round-4 verdict #1/#6) -----
# The driver's bench artifact keeps only a ~2000-char TAIL of stdout;
# round 4's detail JSON grew past it and every headline metric fell out
# of the artifact. Contract from round 5 on: the detail JSON prints
# FIRST (prefixed "DETAIL "), and the FINAL stdout line is a compact
# summary guaranteed to fit the tail — headline total + per-query
# minima, build throughput, warm latency, scaling pairs, and the
# regression check against the prior round.

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _extract_prior_queries(path: str) -> dict[str, float] | None:
    """Per-query minima from a prior artifact: our own summary file
    (plain ``queries`` dict), a driver BENCH_r*.json (``parsed`` block,
    or a regex salvage from the truncated ``tail``)."""
    import re
    try:
        with open(path) as f:
            obj = json.load(f)
    except Exception:  # noqa: BLE001
        return None
    if not isinstance(obj, dict):
        return None
    for src in (obj, obj.get("parsed")):
        if isinstance(src, dict) and isinstance(src.get("queries"), dict):
            q = src["queries"]
            if q and all(isinstance(v, (int, float)) for v in q.values()):
                return {k: float(v) for k, v in q.items()}
    tail = obj.get("tail")
    if isinstance(tail, str):
        m = re.search(r'"queries":\s*(\{[^{}]*\})', tail)
        if m:
            try:
                q = json.loads(m.group(1))
                return {k: float(v) for k, v in q.items()}
            except Exception:  # noqa: BLE001
                return None
    return None


def _find_prior_artifact() -> str | None:
    """Newest comparable artifact in the repo dir: explicit
    $SPARK_GRAFT_CHECK_AGAINST wins; else the highest-round
    bench_summary_r*.json / BENCH_r*.json that yields per-query data."""
    import glob
    import re
    explicit = os.environ.get("SPARK_GRAFT_CHECK_AGAINST")
    if explicit:
        return explicit if os.path.exists(explicit) else None
    cands = []
    for pat in ("bench_summary_r*.json", "BENCH_r*.json"):
        for p in glob.glob(os.path.join(_REPO_DIR, pat)):
            m = re.search(r"r(\d+)", os.path.basename(p))
            rank = int(m.group(1)) if m else -1
            # prefer our own summaries over driver tails at equal round
            cands.append((rank, pat.startswith("bench_summary"), p))
    for _, _, p in sorted(cands, reverse=True):
        if _extract_prior_queries(p):
            return p
    return None


# a per-query slowdown is a REGRESSION when it exceeds 1.5x AND 0.3 s
# absolute (the host's bursty steal makes sub-0.3 s swings pure noise)
_REGRESSION_RATIO = 1.5
_REGRESSION_MIN_SEC = 0.3


def check_against(prior_path: str, queries: dict[str, float]) -> dict:
    """Diff current per-query minima against a prior artifact ->
    ``{"against", "n_compared", "regressions": {q: [old, new]}, "ok"}``.
    CI-style CHECK lines print per query."""
    prior = _extract_prior_queries(prior_path)
    base = os.path.basename(prior_path)
    if not prior:
        print(f"CHECK skip: no per-query data in {base}")
        return {"against": base, "n_compared": 0, "regressions": {},
                "ok": True}
    regressions: dict[str, list[float]] = {}
    n = 0
    for name, new in sorted(queries.items()):
        old = prior.get(name)
        if old is None:
            continue
        n += 1
        bad = (new > old * _REGRESSION_RATIO
               and new - old > _REGRESSION_MIN_SEC)
        tag = "REGRESSION" if bad else "ok"
        print(f"CHECK {tag} {name}: {old:.3f}s -> {new:.3f}s")
        if bad:
            regressions[name] = [round(old, 3), round(new, 3)]
    out = {"against": base, "n_compared": n,
           "regressions": regressions, "ok": not regressions}
    print(f"CHECK {'PASS' if out['ok'] else 'FAIL'}: "
          f"{len(regressions)} regression(s) across {n} queries vs {base}")
    return out


def _compact_summary(total, queries, headline_levels, build, build_best,
                     query_latency, ann, scaling, check) -> dict:
    """The FINAL stdout line — everything the round-over-round
    comparison needs, sized to survive a 2000-char tail."""
    sc = {}
    if scaling:
        for c in SCALE_LEVELS:
            rec = scaling.get(f"local{c}")
            if rec:
                sc[f"t{c}"] = rec["elapsed_sec"]
        for key, val in scaling.items():
            if key.startswith(("efficiency_", "calm_efficiency_",
                               "paired_efficiency_")):
                sc[key] = val
        if "best_level" in scaling:
            sc["best_level"] = scaling["best_level"]
        if "error" in scaling:
            sc["error"] = scaling["error"]
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": _sf_from_dir(SF_DIR),
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "headline_levels": headline_levels,
        "build": {
            "turns_per_sec": build.get("turns_per_sec"),
            "build_sec": build.get("build_sec"),
            "level": CPUS,
        },
        "warm": {
            "mean_sec": query_latency.get("mean_sec"),
            "p95_sec": query_latency.get("p95_sec"),
            "batch_sec": query_latency.get("batch_all_queries_sec"),
        },
        "ann_probe_speedup": ann.get("speedup_vs_oneshot"),
        "scaling": sc,
        "check": check,
    }
    if build_best:
        out["build"]["best"] = build_best
    return out


def main() -> None:
    if len(sys.argv) >= 4 and sys.argv[1] == "--scale-worker":
        _scale_worker(int(sys.argv[2]), sys.argv[3])
        return
    if len(sys.argv) >= 3 and sys.argv[1] == "--check-against":
        # offline mode: diff an existing summary (arg 3, default the
        # last run's bench_summary_last.json) against a prior artifact
        cur_path = (sys.argv[3] if len(sys.argv) >= 4 else
                    os.path.join(_REPO_DIR, "bench_summary_last.json"))
        cur = _extract_prior_queries(cur_path)
        if not cur:
            print(f"CHECK skip: no per-query data in {cur_path}")
            sys.exit(2)
        result = check_against(sys.argv[2], cur)
        sys.exit(0 if result["ok"] else 1)

    corpus_path = os.path.join(
        tempfile.gettempdir(), f"bench_transcripts_{N_TURNS}"
    )

    spark = _session(CPUS)
    _materialize_corpus(spark, corpus_path)
    # warm up the JVM + Python workers so the first timed query doesn't
    # absorb session startup (worker spawn, codegen, broadcast machinery)
    _run_to_sink(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
        .selectExpr("doc_id", "lower(text) t")
    )
    queries, query_samples = bench_queries(spark)
    dsl_ops = {}
    if os.environ.get("SPARK_GRAFT_SKIP_DSL_OPS") != "1":
        dsl_ops = bench_dsl_ops(spark)
    build, query_latency = bench_flagship(spark, corpus_path)
    positions = {}
    if os.environ.get("SPARK_GRAFT_SKIP_POSITIONS") != "1":
        positions = bench_positions(spark, corpus_path)
    ann = bench_ann(spark)
    spark.stop()

    # ---- second headline level (round-4 verdict #3): local[32] lost to
    # local[8] two artifacts running, so the headline row must cite the
    # faster configuration with both levels' samples retained. Re-run
    # the headline set in a fresh session at the alternate level and
    # take the per-query minimum across levels.
    headline_levels: dict[str, float] = {f"local[{CPUS}]": round(
        sum(queries.values()), 3)}
    alt = int(os.environ.get("SPARK_GRAFT_ALT_CPUS", "8"))
    alt_samples: dict[str, list[float]] = {}
    if alt and alt != CPUS \
            and os.environ.get("SPARK_GRAFT_SKIP_ALT_LEVEL") != "1":
        spark_alt = _session(alt)
        _run_to_sink(
            spark_alt.read.parquet(f"{SF_DIR}/documents.parquet")
            .limit(100).selectExpr("doc_id", "lower(text) t"))
        alt_queries, alt_samples = bench_queries(spark_alt)
        spark_alt.stop()
        headline_levels[f"local[{alt}]"] = round(
            sum(alt_queries.values()), 3)
        queries = {name: min(queries[name], alt_queries[name])
                   for name in queries}

    scaling: dict = {}
    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        try:
            scaling = bench_scaling(corpus_path)
        except Exception as exc:  # noqa: BLE001
            scaling = {"error": str(exc)[:200]}

    # build row cites the faster measured configuration (the scaling
    # block builds the same job at every level, min-of-N each)
    build_best = None
    bl = scaling.get("best_level")
    if bl is not None:
        rec = scaling[f"local{bl}"]
        cands = [(build.get("turns_per_sec", 0.0), CPUS),
                 (rec["turns_per_sec"], bl)]
        tps, lvl = max(cands)
        build_best = {"level": int(lvl), "turns_per_sec": tps}

    total = round(sum(queries.values()), 3)

    check = {"against": None, "n_compared": 0, "regressions": {},
             "ok": True}
    prior = _find_prior_artifact()
    if prior:
        check = check_against(prior, queries)

    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "queries_samples": query_samples,
        "queries_samples_alt_level": alt_samples,
        "headline_levels": headline_levels,
        "headline_reps": max(1, HEADLINE_REPS),
        "sf": _sf_from_dir(SF_DIR),
        "cpus": CPUS,
        "build": build,
        "positions_build": positions,
        "query_latency": query_latency,
        "ann": ann,
        "dsl_ops": dsl_ops,
        "scaling": scaling,
        "check": check,
    }
    summary = _compact_summary(
        total, queries, headline_levels, build, build_best,
        query_latency, ann, scaling, check)
    if dsl_ops:
        summary["dsl_ops"] = dsl_ops
    for name, blob in (("bench_detail_last.json", detail),
                       ("bench_summary_last.json", summary)):
        try:
            with open(os.path.join(_REPO_DIR, name), "w") as f:
                json.dump(blob, f, indent=1)
        except Exception:  # noqa: BLE001
            pass
    print("DETAIL " + json.dumps(detail))
    # the LAST line is the only guaranteed-captured real estate
    print(json.dumps(summary))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
