"""spark-submit entrypoints (BASELINE.json north_rule: "runs via
spark-submit --py-files on a multi-executor cluster").

Usage (local sandbox / real cluster — same commands, the master comes
from spark-submit on a cluster):

    spark-submit --py-files pjs_spark.zip \
        /path/to/prow_jobs_scraper_spark/cli.py \
        build --input /path/transcripts_parquet --output /path/index \
        [--n-ranges 32] [--n-buckets 16] [--n-chunks 1]

(spark-submit takes an application FILE, not ``-m`` — this module has an
``if __name__ == "__main__"`` guard precisely so its file path is the
application; the zip on --py-files provides the package to executors.)

    ... search --index /path/index --query "spark agent" --k 10

    ... synth --output /path/transcripts_parquet --n-turns 1000000

Each subcommand prints one JSON result line to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from prow_jobs_scraper_spark.session import get_spark

    return get_spark("pjs-cli", cores=args.cores)


def cmd_build(args) -> dict:
    from prow_jobs_scraper_spark.index.build import BuildConfig, build_index

    spark = _spark(args)
    transcripts = spark.read.parquet(args.input)
    metrics = build_index(
        spark, transcripts, args.output,
        BuildConfig(n_ranges=args.n_ranges, n_buckets=args.n_buckets,
                    n_chunks=args.n_chunks,
                    store_positions=args.store_positions),
        build_id=args.build_id,
    )
    return metrics


def cmd_package(args) -> dict:
    """Zip the package for ``spark-submit --py-files`` (the north rule's
    submission shape). Deterministic: sorted entries, zeroed timestamps,
    fixed permissions — identical trees yield byte-identical zips, so
    the submission artifact itself is reproducible/lineage-friendly.
    """
    import os  # noqa: PLC0415
    import zipfile  # noqa: PLC0415

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    out = os.path.abspath(args.output)
    entries = []
    for dirpath, _dirs, files in os.walk(pkg_root):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "prow_jobs_scraper_spark",
                    os.path.relpath(full, pkg_root))
                entries.append((full, rel))
    entries.sort(key=lambda t: t[1])
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, rel in entries:
            zi = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
            zi.external_attr = 0o644 << 16
            zi.compress_type = zipfile.ZIP_DEFLATED
            with open(full, "rb") as f:
                zf.writestr(zi, f.read())
    return {"zip": out, "n_files": len(entries),
            "bytes": os.path.getsize(out)}


def cmd_search(args) -> dict:
    from prow_jobs_scraper_spark.search.compressed import (
        search_topk,
        search_topk_filtered,
        search_topk_multi,
    )

    spark = _spark(args)
    t0 = time.time()
    dirs = args.index.split(",")
    flt = getattr(args, "filter", None)
    dsl = getattr(args, "dsl", None)
    sugg = getattr(args, "suggest", None)
    if sugg:
        from prow_jobs_scraper_spark.search.suggest import (  # noqa: PLC0415
            suggest_terms_indexed,
        )

        if dsl or args.query or flt or getattr(args, "phrase", False):
            raise SystemExit("--suggest is its own request shape")
        req = (json.load(open(sugg[1:])) if sugg.startswith("@")
               else json.loads(sugg))
        bodies = req.get("suggest", req) if isinstance(req, dict) else {}
        if isinstance(bodies, dict) and any(
                isinstance(b, dict) and "phrase" in b
                for b in bodies.values()):
            # phrase suggester: n-gram statistics come from the corpus
            from prow_jobs_scraper_spark.search.suggest import (  # noqa: PLC0415
                suggest_phrase,
            )

            if not getattr(args, "corpus", None):
                raise SystemExit(
                    "the phrase suggester needs --corpus (its n-gram "
                    "language model reads corpus token sequences)")
            rows = suggest_phrase(
                spark.read.parquet(args.corpus), req).collect()
        elif isinstance(bodies, dict) and any(
                isinstance(b, dict) and "completion" in b
                for b in bodies.values()):
            from prow_jobs_scraper_spark.search.suggest import (  # noqa: PLC0415
                suggest_completion_indexed,
            )

            rows = suggest_completion_indexed(spark, dirs, req).collect()
        else:
            rows = suggest_terms_indexed(spark, dirs, req).collect()
        return {
            "suggest": req,
            "latency_sec": round(time.time() - t0, 4),
            "suggestions": [r.asDict() for r in rows],
        }
    if dsl:
        from prow_jobs_scraper_spark.search.dsl import (  # noqa: PLC0415
            search_dsl_indexed,
        )

        if flt or getattr(args, "phrase", False):
            raise SystemExit("--dsl expresses filters and phrases inside "
                             "the query JSON")
        qjson = (json.load(open(dsl[1:])) if dsl.startswith("@")
                 else json.loads(dsl))
        corpus_df = (spark.read.parquet(args.corpus)
                     if getattr(args, "corpus", None) else None)
        if getattr(args, "count", False):  # the ES _count endpoint
            from prow_jobs_scraper_spark.search.dsl import (  # noqa: PLC0415
                count_dsl_indexed,
            )

            n = count_dsl_indexed(spark, dirs, qjson,
                                  docs_df=corpus_df).first()["count"]
            return {
                "dsl": qjson,
                "count": int(n),
                "latency_sec": round(time.time() - t0, 4),
            }
        # EVERY request shape routes through the library's _search
        # endpoint (execute_request_indexed) so the CLI can never
        # diverge from its dispatch: sort/size/from/search_after are
        # honored and unsupported body keys fail loud. A bare clause
        # gets the envelope; --k supplies size only when absent.
        from prow_jobs_scraper_spark.search.dsl import (  # noqa: PLC0415
            execute_request_indexed,
        )

        if "query" in qjson or any(
                k in qjson for k in ("aggs", "size", "from",
                                     "search_after", "sort")):
            request = dict(qjson)
        else:
            request = {"query": qjson}
        if "aggs" not in request:
            request.setdefault("size", args.k)
        out = execute_request_indexed(spark, dirs, request,
                                      docs_df=corpus_df)
        if "aggs" in request:
            return {
                "dsl": qjson,
                "latency_sec": round(time.time() - t0, 4),
                "buckets": [r.asDict(recursive=True)
                            for r in out.collect()],
            }
        rows = out.collect()
        return {
            "dsl": qjson,
            "k": int(request["size"]),
            "latency_sec": round(time.time() - t0, 4),
            # asDict keeps request-shaped extras (highlight_* columns)
            "hits": [r.asDict() for r in rows],
        }
    if not args.query:
        raise SystemExit("search needs --query (or --dsl)")
    if getattr(args, "phrase", False):
        from prow_jobs_scraper_spark.search.compressed import (  # noqa: PLC0415
            search_phrase,
        )

        if len(dirs) > 1 or flt:
            raise SystemExit("--phrase supports one index, no --filter")
        # --corpus: adjacency re-check against the store; without it the
        # index must carry the positions sidecar (store_positions=True)
        corpus = (spark.read.parquet(args.corpus)
                  if args.corpus else None)
        rows = search_phrase(spark, dirs[0], corpus,
                             args.query, args.k).collect()
    elif len(dirs) > 1:  # incremental segments: base,delta1,delta2,...
        rows = search_topk_multi(spark, dirs, args.query, args.k,
                                 operator=args.operator,
                                 doc_filter=flt).collect()
    elif flt:
        rows = search_topk_filtered(spark, args.index, args.query, args.k,
                                    flt, operator=args.operator).collect()
    else:
        rows = search_topk(spark, args.index, args.query, args.k,
                           operator=args.operator).collect()
    return {
        "query": args.query,
        "k": args.k,
        "operator": args.operator,
        "filter": flt,
        "latency_sec": round(time.time() - t0, 4),
        "hits": [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows],
    }


def cmd_compact(args) -> dict:
    from prow_jobs_scraper_spark.index.build import (
        BuildConfig,
        compact_segments,
    )

    spark = _spark(args)
    return compact_segments(
        spark, args.segments.split(","), args.output,
        BuildConfig(n_ranges=args.n_ranges, n_buckets=args.n_buckets),
        build_id=args.build_id,
    )


def cmd_tick(args) -> dict:
    """One cron tick of the whole pipeline (the reference's cron job,
    template.yaml:12 + scraper/main.py): ingest the delta exactly-once,
    build one new index segment from it, register it for multi-segment
    search. Rerunning with no new data is a no-op."""
    from prow_jobs_scraper_spark.index.build import BuildConfig
    from prow_jobs_scraper_spark.streaming.incremental import (
        ingest_and_index_tick,
    )

    from prow_jobs_scraper_spark.streaming.incremental import compact_tick

    spark = _spark(args)
    t0 = time.time()
    cfg = BuildConfig(n_ranges=args.n_ranges, n_buckets=args.n_buckets)
    out = ingest_and_index_tick(
        spark, args.source, args.work, cfg, watermark=args.watermark)
    compacted = False
    if args.compact_threshold:
        rc = compact_tick(spark, args.work,
                          max_segments=args.compact_threshold,
                          build_config=cfg)
        out["segments"], compacted = rc["segments"], rc["compacted"]
    return {**out, "compacted": compacted,
            "elapsed_sec": round(time.time() - t0, 3)}


def cmd_synth(args) -> dict:
    from prow_jobs_scraper_spark.synth import synth_transcripts

    spark = _spark(args)
    t0 = time.time()
    synth_transcripts(
        spark, args.n_turns, seed=args.seed, n_partitions=args.n_partitions
    ).write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    return {"output": args.output, "n_turns": n,
            "elapsed_sec": round(time.time() - t0, 3)}


def cmd_cleanup(args) -> dict:
    # the reference's elasticsearch_cleanup script interface: dedup a
    # stored table on comparison fields, dry-run by default off
    from prow_jobs_scraper_spark.sources.readers import cleanup_duplicates

    spark = _spark(args)
    fields = args.fields.split(",")
    if args.dry_run:
        losers = cleanup_duplicates(
            spark, args.table, fields, args.order_col, args.id_col,
            dry_run=True)
        return {"dry_run": True, "n_duplicates": losers.count()}
    out = cleanup_duplicates(
        spark, args.table, fields, args.order_col, args.id_col)
    return {"dry_run": False, **out}


def cmd_textqc(args) -> dict:
    """Training-data QC over a parquet table of documents: per-doc
    quality/token/language features, Gopher repetition stats, PII
    scrubbing, and (with --benchmark) 13-gram contamination flags —
    the one-pass curation features a data pipeline computes before
    training. Writes the augmented table; prints one JSON summary."""
    from prow_jobs_scraper_spark.operators.textqc import (
        contamination_check,
        language_id,
        pii_scrub,
        quality_score,
        repetition_stats,
        token_count,
    )

    spark = _spark(args)
    t0 = time.time()
    d = spark.read.parquet(args.table)
    out = d
    for feature_pass in (pii_scrub, quality_score, token_count, language_id,
                         repetition_stats):
        out = feature_pass(out, text_col=args.text_col)
    stats: dict = {}
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        flags = contamination_check(
            d, bench, text_col=args.text_col, id_col=args.id_col,
            bench_text_col=args.bench_text_col, n=args.ngram)
        out = out.join(
            flags.select(args.id_col, "n_contaminated",
                         "contaminated_frac", "is_contaminated"),
            args.id_col, "left")
    out.write.mode("overwrite").parquet(args.output)
    res = spark.read.parquet(args.output)
    stats["n_docs"] = res.count()
    if args.benchmark:
        stats["n_contaminated_docs"] = res.where(
            "is_contaminated").count()
    stats["n_pii_docs"] = res.where(
        "n_emails + n_urls + n_ipv4s + n_phones > 0").count()
    return {"output": args.output,
            "elapsed_sec": round(time.time() - t0, 3), **stats}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="prow_jobs_scraper_spark")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] when no master is configured")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--n-ranges", type=int, default=32)
    b.add_argument("--n-buckets", type=int, default=16)
    b.add_argument("--n-chunks", type=int, default=1)
    b.add_argument("--build-id", default="build-0")
    b.add_argument("--store-positions", action="store_true",
                   help="persist the per-(term, doc) token-offset sidecar "
                        "(ES index_options=positions); lets --phrase run "
                        "without --corpus")
    b.set_defaults(fn=cmd_build)

    z = sub.add_parser(
        "package", help="zip the package for spark-submit --py-files")
    z.add_argument("--output", default="pjs_spark.zip")
    z.set_defaults(fn=cmd_package)

    s = sub.add_parser("search", help="BM25 top-k over a built index")
    s.add_argument("--index", required=True,
                   help="index dir, or comma-separated segment dirs "
                        "(incremental maintenance: base,delta,...)")
    s.add_argument("--query", default=None,
                   help="match query text (or use --dsl)")
    s.add_argument("--dsl", default=None,
                   help="ES query DSL as a JSON string, or @/path/to/file "
                        "— the reference's raw bool/match/filter query "
                        "shape, executed via search/dsl.py")
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--operator", choices=("and", "or"), default="and",
                   help="conjunctive (reference semantics) or disjunctive "
                        "(ES match default, MaxScore-pruned)")
    s.add_argument("--filter", default=None,
                   help="SQL predicate over doc_stats columns (ts, role, "
                        "conv_id, turn_idx, dl) — the reference's ES bool "
                        "shape: match + filter, single- or multi-segment")
    s.add_argument("--phrase", action="store_true",
                   help="treat --query as an exact phrase (match_phrase): "
                        "index candidates + adjacency verification")
    s.add_argument("--corpus", default=None,
                   help="source corpus parquet for the --phrase adjacency "
                        "re-check; optional when the index was built with "
                        "--store-positions")
    s.add_argument("--suggest", default=None,
                   help="ES suggest request JSON (or @file): the term "
                        "suggester against the index vocabulary, or "
                        "the phrase suggester (needs --corpus for its "
                        "n-gram language model)")
    s.add_argument("--count", action="store_true",
                   help="with --dsl: return the qualifying-set size "
                        "(the ES _count endpoint) instead of top-k hits")
    s.set_defaults(fn=cmd_search)

    c = sub.add_parser(
        "compact", help="merge index segments into one (no re-tokenize)")
    c.add_argument("--segments", required=True,
                   help="comma-separated segment index dirs")
    c.add_argument("--output", required=True)
    c.add_argument("--n-ranges", type=int, default=32)
    c.add_argument("--n-buckets", type=int, default=16)
    c.add_argument("--build-id", default="compact-0")
    c.set_defaults(fn=cmd_compact)

    u = sub.add_parser(
        "cleanup",
        help="remove duplicate rows from a stored table (keep-first by "
             "order column) — the elasticsearch_cleanup tool shape")
    u.add_argument("--table", required=True, help="parquet table path")
    u.add_argument("--fields", required=True,
                   help="comma-separated comparison fields defining "
                        "duplicates")
    u.add_argument("--order-col", required=True,
                   help="keeper = first row per group by this column "
                        "(ties broken by --id-col)")
    u.add_argument("--id-col", required=True,
                   help="unique row id (the _id analogue)")
    u.add_argument("--dry-run", action="store_true",
                   help="report duplicates without deleting")
    u.set_defaults(fn=cmd_cleanup)

    t = sub.add_parser(
        "tick", help="one cron tick: ingest delta -> build one segment")
    t.add_argument("--source", required=True,
                   help="transcripts parquet directory (append-only)")
    t.add_argument("--work", required=True,
                   help="work dir: staging, checkpoint, segments")
    t.add_argument("--n-ranges", type=int, default=32)
    t.add_argument("--n-buckets", type=int, default=16)
    t.add_argument("--watermark", default="7 days")
    t.add_argument("--compact-threshold", type=int, default=None,
                   help="fold segments into one when more than N exist")
    t.set_defaults(fn=cmd_tick)

    g = sub.add_parser("synth", help="generate a synthetic transcript corpus")
    g.add_argument("--output", required=True)
    g.add_argument("--n-turns", type=int, default=100000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--n-partitions", type=int, default=32)
    g.set_defaults(fn=cmd_synth)

    q = sub.add_parser(
        "textqc",
        help="training-data QC: quality/repetition/PII features (+ "
             "optional 13-gram benchmark contamination flags)")
    q.add_argument("--table", required=True, help="documents parquet")
    q.add_argument("--output", required=True)
    q.add_argument("--text-col", default="text")
    q.add_argument("--id-col", default="doc_id")
    q.add_argument("--benchmark", default=None,
                   help="benchmark parquet for contamination checking")
    q.add_argument("--bench-text-col", default="text")
    q.add_argument("--ngram", type=int, default=13)
    q.set_defaults(fn=cmd_textqc)

    args = p.parse_args(argv)
    print(json.dumps(args.fn(args), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
