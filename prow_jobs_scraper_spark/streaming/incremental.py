"""Incremental ingest as Structured Streaming (SURVEY.md §2.9).

The reference is batch-on-cron but hand-rolls streaming semantics:
re-scrape everything, anti-join against already-indexed ids
(scraper.py:28-32), bounded dedup state = current+previous weekly index
(event.py:186-189,221-227), 6h late-data allowance
(jobsautoreport/main.py:41-52). This module maps those properly:

- file-source ``readStream`` over the transcripts directory;
- ``withWatermark('ts', '7 days')`` + ``dropDuplicates(conv_id, turn_idx)``
  = the reference's bounded dedup window, as real watermark state;
- ``trigger(availableNow=True)`` = one cron tick (template.yaml:12);
- ``foreachBatch`` appends only never-seen turns to the staging table —
  the downstream batch index build picks them up via its manifest
  (idempotent per-bucket commits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prow_jobs_scraper_spark import commit

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def incremental_ingest(
    spark: SparkSession,
    source_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    watermark: str = "7 days",
):
    """Start an availableNow incremental ingest; returns the query.

    Exactly-once per (conv_id, turn_idx): dropDuplicates within the
    watermark + the file source's own exactly-once file tracking. Await
    termination for the one-tick (cron-equivalent) semantics."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(source_dir)
        .withWatermark("ts", watermark)
        .dropDuplicates(["conv_id", "turn_idx"])
    )

    def write_batch(batch: DataFrame, batch_id: int):
        commit.append(batch.withColumn("ingest_batch", F.lit(batch_id)),
                      staging_dir)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_turn_counts(spark: SparkSession, source_dir: str,
                         window: str = "1 week",
                         watermark: str = "6 hours") -> DataFrame:
    """The reference's tumbling weekly report window + 6h lag allowance as
    an event-time windowed aggregate (streaming-ready; also runs batch)."""
    df = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(source_dir)
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("role"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "role", "n_turns")
    )


SESSION_OUTPUT_SCHEMA = (
    "conv_id string, n_turns long, n_tool_turns long, last_turn_idx int, "
    "first_ts timestamp, last_ts timestamp, closed boolean"
)
# state carries epoch-ms longs (state schemas are happiest with plain
# numerics; the output converts back to timestamps)
_SESSION_STATE_SCHEMA = (
    "n_turns long, n_tool_turns long, last_turn_idx int, "
    "first_ms long, last_ms long"
)


def conversation_sessions(stream: DataFrame, gap: str = "30 minutes",
                          watermark: str = "1 hour") -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    per-conversation session accumulation with event-time timeout.

    The reference tracks a conversation's jobs by re-querying the index
    per report; here the running (n_turns, n_tool_turns, bounds) per
    ``conv_id`` lives in Spark's state store, updated per micro-batch
    with Arrow-batched pandas, and a conversation quiet for ``gap`` past
    the watermark is emitted once more with ``closed=true`` and its
    state dropped — bounded state, the applyInPandasWithState analog of
    the reference's bounded two-week dedup window.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupStateTimeout,
    )

    gap_ms = _duration_ms(gap)

    def fn(key, pdfs, state):
        conv_id = key[0]
        if state.hasTimedOut:
            n, nt, lti, fms, lms = state.get
            state.remove()
            yield pd.DataFrame([{
                "conv_id": conv_id, "n_turns": n, "n_tool_turns": nt,
                "last_turn_idx": lti,
                "first_ts": pd.Timestamp(fms, unit="ms"),
                "last_ts": pd.Timestamp(lms, unit="ms"),
                "closed": True,
            }])
            return
        if state.exists:
            n, nt, lti, fms, lms = state.get
        else:
            n, nt, lti, fms, lms = 0, 0, -1, None, None
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            nt += int((pdf["tool"].notna() & (pdf["tool"] != "")).sum())
            lti = max(lti, int(pdf["turn_idx"].max()))
            ms = (pdf["ts"].astype("int64") // 1_000_000)
            fms = int(ms.min()) if fms is None else min(fms, int(ms.min()))
            lms = int(ms.max()) if lms is None else max(lms, int(ms.max()))
        state.update((n, nt, lti, fms, lms))
        # close the session once the watermark passes last event + gap;
        # a timeout must sit beyond the current watermark (late data can
        # put last_ts + gap behind it — fire at the next tick then)
        state.setTimeoutTimestamp(
            max(lms + gap_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame([{
            "conv_id": conv_id, "n_turns": n, "n_tool_turns": nt,
            "last_turn_idx": lti,
            "first_ts": pd.Timestamp(fms, unit="ms"),
            "last_ts": pd.Timestamp(lms, unit="ms"),
            "closed": False,
        }])

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, SESSION_OUTPUT_SCHEMA, _SESSION_STATE_SCHEMA,
            "update", GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_ms(s: str) -> int:
    n, unit = s.split()
    mult = {"second": 1000, "seconds": 1000,
            "minute": 60_000, "minutes": 60_000,
            "hour": 3_600_000, "hours": 3_600_000,
            "day": 86_400_000, "days": 86_400_000}[unit]
    return int(n) * mult


def ingest_and_index_tick(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    build_config=None,
    watermark: str = "7 days",
) -> dict:
    """One cron-equivalent tick of the reference's whole pipeline —
    scrape → dedup → index (reference scraper/main.py + template.yaml's
    cron) — as streaming ingest + incremental segment build:

    1. run the availableNow ingest (exactly-once per (conv_id,
       turn_idx) via watermark dedup + file-source tracking);
    2. build a NEW index segment from ONLY the turns this tick staged
       (never re-tokenizes old data — the reference re-scrapes
       everything and anti-joins; here the stream's own state bounds
       the work to the delta);
    3. record it in ``work_dir/segments.json`` so queries fan out with
       :func:`..search.compressed.search_topk_multi` /
       ``search_dsl_indexed(spark, segments, ...)`` — rank+score
       identical to a monolithic index (their global-stats rule).

    Crash-safe: the segment dir name is derived from the batch-id range
    it covers, build_index resumes per-bucket and commits the segment by
    writing its ``meta.json`` last, and ``segments.json`` is replaced
    atomically (:func:`..commit.write_json`) only AFTER that — a rerun of
    a torn tick rebuilds the same segment dir (resumed, idempotent) and
    then registers it; until then readers see the previous manifest.
    Returns {"segments": [...], "n_new_turns": int, "new_segment": str|None}.
    """
    import json as _json
    import os as _os

    from prow_jobs_scraper_spark.index.build import (  # noqa: PLC0415
        BuildConfig,
        build_index,
    )

    staging = _os.path.join(work_dir, "staging")
    ckpt = _os.path.join(work_dir, "checkpoint")
    manifest_path = _os.path.join(work_dir, "segments.json")
    manifest = {"segments": [], "indexed_batches": []}
    if _os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = _json.load(f)

    q = incremental_ingest(spark, source_dir, staging, ckpt, watermark)
    q.awaitTermination()

    if not _os.path.exists(staging):
        return {"segments": list(manifest["segments"]),
                "n_new_turns": 0, "new_segment": None}
    staged = spark.read.parquet(staging)
    done = set(manifest["indexed_batches"])
    new_batches = sorted(
        int(r["ingest_batch"])
        for r in staged.select("ingest_batch").distinct().collect()
        if int(r["ingest_batch"]) not in done)
    if not new_batches:
        return {"segments": list(manifest["segments"]),
                "n_new_turns": 0, "new_segment": None}

    delta = staged.where(F.col("ingest_batch").isin(new_batches)).drop(
        "ingest_batch")
    seg_dir = _os.path.join(
        work_dir, f"seg_b{new_batches[0]}_{new_batches[-1]}")
    metrics = build_index(spark, delta, seg_dir,
                          build_config or BuildConfig())
    manifest["segments"].append(seg_dir)
    manifest["indexed_batches"].extend(new_batches)
    commit.write_json(manifest_path, manifest)
    return {"segments": list(manifest["segments"]),
            "n_new_turns": int(metrics["n_docs"]),
            "new_segment": seg_dir}


def compact_tick(
    spark: SparkSession,
    work_dir: str,
    max_segments: int = 8,
    build_config=None,
) -> dict:
    """Fold the tick manifest's segments into ONE when they exceed
    ``max_segments`` — the merge half of the Lucene-style segment
    lifecycle (ingest ticks append small segments; compaction bounds
    per-query fan-out). Uses :func:`..index.build.compact_segments`
    (decode → re-encode, NO re-tokenization; block-identical to a
    monolithic build, pytest-gated there).

    Crash-safe ordering: the compacted index is built in a fresh
    ``compacted_<n>`` dir first (its ``meta.json`` written last), the
    manifest is atomically replaced to point at it
    (:func:`..commit.write_json`), and only then are the old segment
    dirs deleted (:func:`..commit.remove`) — a crash at any point leaves
    a manifest whose every entry is a complete, queryable index.
    Returns {"segments": [...], "compacted": bool}.
    """
    import json as _json
    import os as _os

    from prow_jobs_scraper_spark.index.build import (  # noqa: PLC0415
        BuildConfig,
        compact_segments,
    )

    manifest_path = _os.path.join(work_dir, "segments.json")
    if not _os.path.exists(manifest_path):
        return {"segments": [], "compacted": False}
    with open(manifest_path) as f:
        manifest = _json.load(f)
    segs = list(manifest["segments"])
    if len(segs) <= max_segments:
        return {"segments": segs, "compacted": False}

    gen = int(manifest.get("compaction_gen", 0)) + 1
    out_dir = _os.path.join(work_dir, f"compacted_{gen}")
    compact_segments(spark, segs, out_dir,
                     build_config or BuildConfig(),
                     build_id=f"compact-{gen}")
    manifest["segments"] = [out_dir]
    manifest["compaction_gen"] = gen
    commit.write_json(manifest_path, manifest)
    commit.remove(*segs)  # old dirs removable only AFTER the manifest swap
    return {"segments": [out_dir], "compacted": True}
