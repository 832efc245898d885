"""Sources (junit XML UDTF-shaped parse, schema-enforced JSON) and the
Structured Streaming incremental ingest."""

from __future__ import annotations

import json
import os

import pytest

from prow_jobs_scraper_spark.sources import readers as R
from prow_jobs_scraper_spark.streaming.incremental import incremental_ingest

JUNIT = """<?xml version="1.0"?>
<testsuites>
 <testsuite name="assisted">
  <testcase name="step-ok" time="12.5"/>
  <testcase name="step-bad" time="oops">
    <failure>boom\nmultiline details</failure>
  </testcase>
 </testsuite>
</testsuites>"""


def test_parse_junit_xml(spark):
    df = spark.createDataFrame([(bytearray(JUNIT.encode()),)], "content binary")
    rows = {r["step_name"]: r for r in R.parse_junit_xml(df).collect()}
    assert rows["step-ok"]["step_state"] == "success"
    assert rows["step-ok"]["step_duration"] == 12.5
    # malformed time falls back to 0.0 (reference step.py:36-43)
    assert rows["step-bad"]["step_duration"] == 0.0
    assert rows["step-bad"]["step_state"] == "failure"
    assert "multiline" in rows["step-bad"]["step_details"]


def test_read_job_events_json(spark, tmp_path):
    p = tmp_path / "jobs.json"
    rec = {"build_id": "b1", "name": "j", "state": "success",
           "type": "periodic", "duration": 10,
           "refs": {"org": "openshift", "repo": "assisted", "pull": 7}}
    p.write_text(json.dumps(rec) + "\n")
    df = R.read_job_events_json(spark, str(p))
    row = df.collect()[0]
    assert row["refs"]["org"] == "openshift"
    assert row["duration"] == 10
    assert df.schema["start_time"].dataType.typeName() == "timestamp"


def test_incremental_ingest_exactly_once(spark, transcripts, tmp_path):
    src = str(tmp_path / "src")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    transcripts.limit(200).write.parquet(src)

    q = incremental_ingest(spark, src, staging, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(staging).count()
    assert n1 == 200

    # second tick with no new files: nothing new ingested
    q2 = incremental_ingest(spark, src, staging, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(staging).count() == n1

    # new file arrives -> only its rows are appended
    transcripts.limit(250).write.mode("overwrite").parquet(src + "2")
    spark.read.parquet(src + "2").write.mode("append").parquet(src)
    q3 = incremental_ingest(spark, src, staging, ckpt)
    q3.awaitTermination(120)
    total = spark.read.parquet(staging).count()
    # 200 original + 250 new-file rows, minus the dropDuplicates overlap
    dedup = spark.read.parquet(staging).dropDuplicates(
        ["conv_id", "turn_idx"]).count()
    assert total >= 250 and dedup <= 250


def test_windowed_turn_counts_matches_batch(spark, transcripts, tmp_path):
    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.streaming.incremental import (
        windowed_turn_counts,
    )

    src = str(tmp_path / "wsrc")
    transcripts.write.parquet(src)

    q = (
        windowed_turn_counts(spark, src, window="1 week")
        .writeStream.format("memory").queryName("wtc")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["window_start"], r["role"]): r["n_turns"]
           for r in spark.sql("SELECT * FROM wtc").collect()}

    want = {
        (r["ws"], r["role"]): r["n"]
        for r in spark.read.parquet(src)
        .groupBy(F.window("ts", "1 week").alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n").collect()
    }
    assert got == want and len(got) > 0


def test_ingest_build_search_pipeline(spark, transcripts, tmp_path):
    """Full-pipeline: stream-ingest into staging, build the index from
    the staged table, and the search results must be rank-identical to
    the brute-force oracle over exactly the staged rows."""
    from prow_jobs_scraper_spark.index.build import (
        BuildConfig,
        build_index,
        with_doc_ids,
    )
    from prow_jobs_scraper_spark.oracle import bm25_oracle_topk
    from prow_jobs_scraper_spark.search.compressed import search_topk

    src = str(tmp_path / "psrc")
    staging = str(tmp_path / "pstaging")
    ckpt = str(tmp_path / "pckpt")
    transcripts.write.parquet(src)
    q = incremental_ingest(spark, src, staging, ckpt)
    q.awaitTermination(120)

    staged = spark.read.parquet(staging).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts")
    idx = str(tmp_path / "pidx")
    build_index(spark, staged, idx, BuildConfig(n_ranges=4, n_buckets=2))

    docs = with_doc_ids(staged).select("doc_id", "text").toPandas()
    got = search_topk(spark, idx, "spark agent", 10).toPandas()
    want = bm25_oracle_topk(docs, "spark agent", 10)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


def test_conversation_sessions_stateful(spark, tmp_path):
    # applyInPandasWithState sessionization: batch 1 opens sessions with
    # running counts; batch 2's much-later events advance the watermark
    # past conv A's last_ts + gap, so the restarted stream (same
    # checkpoint = same state store) emits A once more as closed=true
    # and drops its state
    import pandas as pd

    from prow_jobs_scraper_spark.streaming.incremental import (
        TRANSCRIPTS_SCHEMA,
        conversation_sessions,
    )

    src = str(tmp_path / "conv_src")
    ckpt = str(tmp_path / "conv_ckpt")
    t0 = pd.Timestamp("2025-06-01 10:00:00")

    def write(rows, name):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool",
                           "ts"])
        df = spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(src)

    def run(qname):
        # memory sink can't recover from a checkpoint; foreachBatch can
        got = []

        def sink(batch, _bid):
            got.append(batch.toPandas())

        stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src)
        q = (
            conversation_sessions(stream, gap="30 minutes",
                                  watermark="10 minutes")
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        import pandas as pd
        return pd.concat(got, ignore_index=True) if got else pd.DataFrame(
            columns=["conv_id", "n_turns", "n_tool_turns",
                     "last_turn_idx", "first_ts", "last_ts", "closed"])

    write([
        ("A", 0, "user", "hello", None, t0),
        ("A", 1, "assistant", "hi", "", t0 + pd.Timedelta("1 minute")),
        ("A", 2, "assistant", "ran it", "bash",
         t0 + pd.Timedelta("2 minutes")),
        ("B", 0, "user", "hey", None, t0 + pd.Timedelta("3 minutes")),
    ], "b1")
    out1 = run("sess1").set_index("conv_id")
    assert out1.loc["A", "n_turns"] == 3
    assert out1.loc["A", "n_tool_turns"] == 1          # only 'bash' counts
    assert out1.loc["A", "last_turn_idx"] == 2
    assert not bool(out1.loc["A", "closed"])
    assert out1.loc["B", "n_turns"] == 1

    # B continues 3 hours later -> watermark (max_ts - 10min) passes
    # A's last_ts + 30min gap -> A times out closed; B stays open
    write([
        ("B", 1, "assistant", "back", None, t0 + pd.Timedelta("3 hours")),
    ], "b2")
    out2 = run("sess2")
    a_rows = out2[out2.conv_id == "A"]
    assert len(a_rows) == 1 and bool(a_rows.iloc[0]["closed"])
    assert a_rows.iloc[0]["n_turns"] == 3              # final state intact
    b_rows = out2[out2.conv_id == "B"]
    assert len(b_rows) == 1 and not bool(b_rows.iloc[0]["closed"])
    assert b_rows.iloc[0]["n_turns"] == 2              # state carried over


def test_read_usages_json(spark, tmp_path):
    # S4: schema-enforced usages scan + the reference's derived fields
    # (job_build_id = last '-' segment, is_bandwidth = plan contains
    # 'Bandwidth' — equinix_usages.py:46-54)
    import json

    p = str(tmp_path / "usages.json")
    rows = [
        {"facility": "dc13", "metro": "dc", "name": "ipi-ci-op-abc-123",
         "plan": "c3.medium.x86", "plan_version": "v1", "price": 0.5,
         "quantity": 2.0, "total": 1.0, "type": "Instance",
         "unit": "GB", "start_date": "2024-05-01T00:00:00Z"},
        {"facility": "sv15", "metro": "sv", "name": "ipi-ci-op-def-456",
         "plan": "Outbound Bandwidth", "plan_version": "v1",
         "price": 0.05, "quantity": 10.0, "total": 0.5,
         "type": "Usage", "unit": "GB",
         "start_date": "2024-05-02T00:00:00Z"},
    ]
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))

    from prow_jobs_scraper_spark.sources.readers import read_usages_json

    got = {r["name"]: r for r in read_usages_json(spark, p).collect()}
    assert got["ipi-ci-op-abc-123"]["job_build_id"] == "123"
    assert got["ipi-ci-op-abc-123"]["is_bandwidth"] is False
    assert got["ipi-ci-op-def-456"]["is_bandwidth"] is True
    assert got["ipi-ci-op-def-456"]["total"] == 0.5
    assert got["ipi-ci-op-abc-123"]["end_date"] is None  # optional field


def test_incremental_segment_ticks_match_monolithic(spark, transcripts,
                                                    tmp_path):
    """The full cron-tick loop (reference template.yaml cron +
    scraper/main.py): two data waves arrive, each tick stream-ingests
    the delta and builds ONE new segment from it; multi-segment search
    over the accumulated segments must be rank+score identical to the
    brute-force oracle over the full corpus — incremental maintenance
    without ever re-tokenizing old data."""
    import numpy as np

    from prow_jobs_scraper_spark.index.build import (
        BuildConfig,
        with_doc_ids,
    )
    from prow_jobs_scraper_spark.oracle import bm25_oracle_topk
    from prow_jobs_scraper_spark.search.compressed import search_topk_multi
    from prow_jobs_scraper_spark.streaming.incremental import (
        ingest_and_index_tick,
    )

    src = str(tmp_path / "isrc")
    work = str(tmp_path / "iwork")
    cfg = BuildConfig(n_ranges=4, n_buckets=2)

    # waves split by TIME (the cron reality: later ticks see newer
    # data) — a parity split would feed tick 2 rows older than the
    # advanced watermark, which the dedup rightly drops as late
    cut = "2025-06-16"
    transcripts.where(f"ts < '{cut}'").write.mode("append").parquet(src)
    r1 = ingest_and_index_tick(spark, src, work, cfg)
    assert r1["new_segment"] is not None
    assert len(r1["segments"]) == 1 and r1["n_new_turns"] > 0

    # a tick with nothing new stages nothing and builds nothing
    r_idle = ingest_and_index_tick(spark, src, work, cfg)
    assert r_idle["new_segment"] is None
    assert len(r_idle["segments"]) == 1

    transcripts.where(f"ts >= '{cut}'").write.mode("append").parquet(src)
    r2 = ingest_and_index_tick(spark, src, work, cfg)
    assert r2["new_segment"] is not None
    assert len(r2["segments"]) == 2

    docs = with_doc_ids(transcripts).select("doc_id", "text").toPandas()
    got = search_topk_multi(spark, r2["segments"], "spark agent",
                            10).toPandas()
    want = bm25_oracle_topk(docs, "spark agent", 10)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-9)


def test_compact_tick_folds_segments_and_search_is_identical(
        spark, transcripts, tmp_path):
    """Three waves -> three segments -> compact_tick folds them into
    one; search over the compacted manifest stays rank+score identical
    to the oracle, old segment dirs are gone, and a below-threshold
    manifest is untouched."""
    import numpy as np

    from prow_jobs_scraper_spark.index.build import (
        BuildConfig,
        with_doc_ids,
    )
    from prow_jobs_scraper_spark.oracle import bm25_oracle_topk
    from prow_jobs_scraper_spark.search.compressed import search_topk_multi
    from prow_jobs_scraper_spark.streaming.incremental import (
        compact_tick,
        ingest_and_index_tick,
    )

    src = str(tmp_path / "csrc")
    work = str(tmp_path / "cwork")
    cfg = BuildConfig(n_ranges=4, n_buckets=2)
    cuts = ["2025-06-10", "2025-06-20"]
    waves = [
        transcripts.where(f"ts < '{cuts[0]}'"),
        transcripts.where(f"ts >= '{cuts[0]}' AND ts < '{cuts[1]}'"),
        transcripts.where(f"ts >= '{cuts[1]}'"),
    ]
    for w in waves:
        w.write.mode("append").parquet(src)
        r = ingest_and_index_tick(spark, src, work, cfg)
        assert r["new_segment"] is not None
    assert len(r["segments"]) == 3

    # below threshold: no-op
    r_noop = compact_tick(spark, work, max_segments=8, build_config=cfg)
    assert not r_noop["compacted"] and len(r_noop["segments"]) == 3

    old_segs = list(r["segments"])
    rc = compact_tick(spark, work, max_segments=2, build_config=cfg)
    assert rc["compacted"] and len(rc["segments"]) == 1
    import os
    assert all(not os.path.exists(d) for d in old_segs)

    docs = with_doc_ids(transcripts).select("doc_id", "text").toPandas()
    got = search_topk_multi(spark, rc["segments"], "spark agent",
                            10).toPandas()
    want = bm25_oracle_topk(docs, "spark agent", 10)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-9)


def test_kill_at_manifest_commit_keeps_previous_segments(
        spark, transcripts, tmp_path, monkeypatch):
    """segments.json is replaced atomically and only after the segment
    (or the compacted index) is committed: a kill at that write leaves
    the previous manifest in place, loadable and pointing at complete
    indexes; the rerun registers what the killed run built."""
    from prow_jobs_scraper_spark import commit
    from prow_jobs_scraper_spark.index.build import BuildConfig
    from prow_jobs_scraper_spark.search.compressed import search_topk_multi
    from prow_jobs_scraper_spark.streaming.incremental import (
        compact_tick,
        ingest_and_index_tick,
    )

    src = str(tmp_path / "ksrc")
    work = str(tmp_path / "kwork")
    manifest_path = os.path.join(work, "segments.json")
    cfg = BuildConfig(n_ranges=2, n_buckets=2)
    write_json = commit.write_json

    def killed(path, obj):
        if path == manifest_path:
            raise RuntimeError("killed at the manifest commit")
        write_json(path, obj)

    def manifest():
        with open(manifest_path) as f:
            return json.load(f)

    def readable(m):
        assert all(os.path.exists(os.path.join(d, "meta.json"))
                   for d in m["segments"])
        search_topk_multi(spark, m["segments"], "spark agent", 5).collect()

    cut = "2025-06-16"
    transcripts.where(f"ts < '{cut}'").write.mode("append").parquet(src)
    ingest_and_index_tick(spark, src, work, cfg)
    first = manifest()

    # tick: the new segment is built, its registration is killed
    transcripts.where(f"ts >= '{cut}'").write.mode("append").parquet(src)
    monkeypatch.setattr(commit, "write_json", killed)
    with pytest.raises(RuntimeError, match="manifest commit"):
        ingest_and_index_tick(spark, src, work, cfg)
    monkeypatch.undo()
    assert manifest() == first
    readable(first)
    r = ingest_and_index_tick(spark, src, work, cfg)
    assert r["new_segment"] is not None and len(r["segments"]) == 2
    assert manifest()["segments"] == r["segments"]
    readable(manifest())

    # compaction: the folded index is built, the manifest swap is killed,
    # so no old segment may be deleted yet
    second = manifest()
    monkeypatch.setattr(commit, "write_json", killed)
    with pytest.raises(RuntimeError, match="manifest commit"):
        compact_tick(spark, work, max_segments=1, build_config=cfg)
    monkeypatch.undo()
    assert manifest() == second
    readable(second)
    rc = compact_tick(spark, work, max_segments=1, build_config=cfg)
    assert rc["compacted"] and len(rc["segments"]) == 1
    assert manifest()["segments"] == rc["segments"]
    assert all(not os.path.exists(d) for d in second["segments"])
    readable(manifest())
