"""Segment handles (search/compressed.py ``_Segment``): each committed
index segment's tables are opened once and its df cached per
``meta.json`` commit. A warm read runs only its own Spark jobs, and a
rebuild, a compaction or a killed build is never answered from what an
earlier commit opened."""

from __future__ import annotations

import pathlib
import shutil

import numpy as np
import pytest

from prow_jobs_scraper_spark.index import build as B
from prow_jobs_scraper_spark.index.build import (
    BuildConfig,
    build_index,
    with_doc_ids,
)
from prow_jobs_scraper_spark.oracle import bm25_oracle_topk
from prow_jobs_scraper_spark.search import compressed as C
from prow_jobs_scraper_spark.search.compressed import (
    search_topk,
    search_topk_multi,
)
from prow_jobs_scraper_spark.synth import synth_transcripts_pandas

QUERY = "spark error"


def _frame(spark, pdf):
    df = spark.createDataFrame(pdf)
    return df.withColumn("ts", df["ts"].cast("timestamp"))


@pytest.fixture(scope="module")
def corpora(spark):
    """A 300-turn corpus and its respin: the same (conv_id, turn_idx)
    keys — so the same doc ids, n_docs and fingerprint — with every
    other text replaced, which moves the df of both query terms."""
    pdf = synth_transcripts_pandas(n_turns=300, seed=3)
    respun = pdf.copy()
    respun.loc[respun.index[::2], "text"] = "spark spark error"
    return _frame(spark, pdf), _frame(spark, respun)


def _assert_oracle(spark, idx, frame, k=5, operator="or"):
    got = search_topk(spark, idx, QUERY, k, operator).toPandas()
    docs = with_doc_ids(frame).select("doc_id", "text").toPandas()
    want = bm25_oracle_topk(docs, QUERY, k, operator=operator)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)
    assert len(got) == k
    return got


def test_rebuild_in_place_reads_the_new_df(spark, corpora, tmp_path):
    # the old df cache keyed a segment by (root, build_id, fingerprint,
    # n_docs), which a rebuild from the same keys keeps: it answered
    # with the first build's df (top score 0.632891 for 1.303587)
    first, respun = corpora
    idx = str(tmp_path / "idx")
    cfg = BuildConfig(n_ranges=2, n_buckets=2)
    build_index(spark, first, idx, cfg)
    _assert_oracle(spark, idx, first)
    shutil.rmtree(idx)
    build_index(spark, respun, idx, cfg)
    got = _assert_oracle(spark, idx, respun)
    assert got["score"].iloc[0] == pytest.approx(1.303587, abs=1e-6)


def test_rebuild_with_a_new_layout_equals_the_oracle(spark, corpora,
                                                     tmp_path):
    # a relation opened for the old commit would list the old tb
    # partitions and files; the new commit's handle opens the new ones
    first, respun = corpora
    idx = str(tmp_path / "idx")
    build_index(spark, first, idx, BuildConfig(n_ranges=2, n_buckets=2))
    _assert_oracle(spark, idx, first)
    shutil.rmtree(idx)
    build_index(spark, respun, idx, BuildConfig(n_ranges=4, n_buckets=4))
    _assert_oracle(spark, idx, respun, operator="and")
    _assert_oracle(spark, idx, respun, operator="or")


def test_killed_rebuild_raises_then_the_rerun_answers_fresh(
        spark, corpora, tmp_path, monkeypatch):
    first, respun = corpora
    idx = str(tmp_path / "idx")
    cfg = BuildConfig(n_ranges=2, n_buckets=2)
    build_index(spark, first, idx, cfg)
    _assert_oracle(spark, idx, first)  # the handle is warm
    shutil.rmtree(idx)

    def killed(*args, **kwargs):
        raise RuntimeError("killed before the postings")

    monkeypatch.setattr(B, "_make_encoder", killed)
    with pytest.raises(RuntimeError, match="killed"):
        build_index(spark, respun, idx, cfg)
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError):
        search_topk(spark, idx, QUERY, 5, "or")
    build_index(spark, respun, idx, cfg)  # the rerun finishes the build
    _assert_oracle(spark, idx, respun)


def test_compact_tick_reads_raise_or_answer_fresh(spark, corpora,
                                                  tmp_path):
    from prow_jobs_scraper_spark.streaming.incremental import (
        compact_tick,
        ingest_and_index_tick,
    )

    first, _ = corpora
    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    cfg = BuildConfig(n_ranges=2, n_buckets=2)
    cut = "2025-06-15"
    for wave in (first.where(f"ts < '{cut}'"), first.where(f"ts >= '{cut}'")):
        wave.write.mode("append").parquet(src)
        r = ingest_and_index_tick(spark, src, work, cfg)
        assert r["new_segment"] is not None
    old = r["segments"]
    assert len(old) == 2
    docs = with_doc_ids(first).select("doc_id", "text").toPandas()
    want = bm25_oracle_topk(docs, QUERY, 5, operator="or")

    def check(segs):
        got = search_topk_multi(spark, segs, QUERY, 5, "or").toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        np.testing.assert_allclose(got["score"], want["score"], rtol=1e-9)

    check(old)  # the old segments' handles are warm
    rc = compact_tick(spark, work, max_segments=1, build_config=cfg)
    assert rc["compacted"]
    with pytest.raises(FileNotFoundError):
        search_topk_multi(spark, old, QUERY, 5, "or")
    check(rc["segments"])


def test_warm_search_topk_runs_two_jobs(spark, corpora, tmp_path):
    # one job for the group pass and one for the top-k cut; the df
    # fetch, the file listing and the schema inference are all cached
    first, _ = corpora
    idx = str(tmp_path / "idx")
    build_index(spark, first, idx, BuildConfig(n_ranges=2, n_buckets=2))
    cold = search_topk(spark, idx, "spark agent", 5).collect()
    assert cold
    sc = spark.sparkContext
    sc.setJobGroup("warm-topk", "a warm search_topk")
    try:
        warm = search_topk(spark, idx, "spark agent", 5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert warm == cold
    assert len(sc.statusTracker().getJobIdsForGroup("warm-topk")) == 2


def test_search_reads_index_tables_only_through_the_handle():
    # the handle is the one place a search module opens an index table:
    # a direct read would re-list files and re-infer the schema per
    # query, and could outlive the commit it was opened for
    search = pathlib.Path(C.__file__).parent
    hits = sorted(
        f"{p.name}: {line.strip()}"
        for p in search.glob("*.py")
        for line in p.read_text().splitlines()
        if "read.parquet" in line or "IndexPaths(" in line)
    assert hits == [
        "compressed.py: self._tables[name] = self.spark.read.parquet(",
        "compressed.py: self.paths = IndexPaths(root)",
        "compressed.py: with open(IndexPaths(root).meta, \"rb\") as f:",
    ]


def test_concurrent_opens_keep_the_handle_cap(tmp_path, monkeypatch):
    # threads share the handle cache: eviction and reopen under a short
    # switch interval must neither raise nor let the cache outgrow its cap
    import json
    import sys
    import threading

    roots = []
    for i in range(24):
        root = tmp_path / f"seg{i}"
        root.mkdir()
        (root / "meta.json").write_text(json.dumps({"n_docs": i}))
        roots.append(str(root))
    monkeypatch.setattr(C, "_SEGMENTS", {})
    monkeypatch.setattr(C, "_MAX_SEGMENTS", 4)
    session = object()  # a handle touches its session only to read
    errors, wrong = [], []

    def opener(seed):
        try:
            for j in range(300):
                root = roots[(seed * 7 + j) % len(roots)]
                seg = C._open_segment(session, root)
                if seg.meta["n_docs"] != roots.index(root):
                    wrong.append(root)
        except Exception as e:  # noqa: BLE001 - reported by the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=opener, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []
    assert len(C._SEGMENTS) <= 4
