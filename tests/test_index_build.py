"""Index-build invariants: stats correctness, salted-vs-unsalted
equivalence, resume-after-kill idempotency (the Spark analog of the
reference's deterministic-_id upsert semantics, event.py:204-214)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from prow_jobs_scraper_spark.functions.tokenize import tokenize_pandas
from prow_jobs_scraper_spark.index import codec
from prow_jobs_scraper_spark.index.build import (
    BuildConfig,
    build_index,
    salt_bounds,
    with_doc_ids,
)


def _term_names(spark, d: str) -> dict[int, str]:
    """term_id -> term string (postings are keyed by term_id only)."""
    return {int(r["term_id"]): r["term"]
            for r in spark.read.parquet(f"{d}/term_stats").collect()}


def _decode_all_postings(spark, d: str) -> pd.DataFrame:
    """Decode the whole postings table -> flat (term, doc_id, tf, dl)."""
    names = _term_names(spark, d)
    rows = spark.read.parquet(f"{d}/postings").collect()
    recs = []
    for r in rows:
        ids, tfs, dls = codec.decode_block(r)
        for i in range(len(ids)):
            recs.append((names[int(r["term_id"])], int(ids[i]),
                         int(tfs[i]), int(dls[i])))
    return (
        pd.DataFrame(recs, columns=["term", "doc_id", "tf", "dl"])
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )


def _expected_flat(corpus_pdf: pd.DataFrame, id_map: dict) -> pd.DataFrame:
    toks = tokenize_pandas(corpus_pdf["text"])
    recs = []
    for (conv, turn), ts in zip(
        zip(corpus_pdf["conv_id"], corpus_pdf["turn_idx"]), toks
    ):
        did = id_map[(conv, int(turn))]
        dl = len(ts)
        counts: dict[str, int] = {}
        for t in ts:
            counts[t] = counts.get(t, 0) + 1
        for t, c in counts.items():
            recs.append((t, did, c, dl))
    return (
        pd.DataFrame(recs, columns=["term", "doc_id", "tf", "dl"])
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )


def test_postings_match_brute_force(spark, transcripts, corpus_pdf, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, transcripts, d, BuildConfig(n_ranges=4, n_buckets=4))
    id_rows = with_doc_ids(transcripts).select("conv_id", "turn_idx", "doc_id").collect()
    id_map = {(r["conv_id"], int(r["turn_idx"])): int(r["doc_id"]) for r in id_rows}
    got = _decode_all_postings(spark, d)
    want = _expected_flat(corpus_pdf, id_map)
    pd.testing.assert_frame_equal(got, want)

    # term_stats consistency: df = #docs per term, cf = Σtf
    ts = spark.read.parquet(f"{d}/term_stats").toPandas()
    want_stats = (
        want.groupby("term").agg(df=("doc_id", "size"), cf=("tf", "sum")).reset_index()
    )
    got_stats = ts[["term", "df", "cf"]].sort_values("term").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_stats.astype({"df": "int64", "cf": "int64"}),
        want_stats.sort_values("term").reset_index(drop=True).astype(
            {"df": "int64", "cf": "int64"}),
    )


def test_salted_equals_unsalted(spark, transcripts, tmp_path):
    d1 = str(tmp_path / "u")
    d32 = str(tmp_path / "s")
    build_index(spark, transcripts, d1, BuildConfig(n_ranges=1, n_buckets=2))
    build_index(spark, transcripts, d32, BuildConfig(n_ranges=32, n_buckets=2))
    a = _decode_all_postings(spark, d1)
    b = _decode_all_postings(spark, d32)
    pd.testing.assert_frame_equal(a, b)


def test_salt_ranges_are_disjoint_and_ordered(spark, transcripts, tmp_path):
    d = str(tmp_path / "sr")
    build_index(spark, transcripts, d, BuildConfig(n_ranges=8, n_buckets=2))
    blocks = spark.read.parquet(f"{d}/postings").select(
        "term_id", "salt", "first_doc_id", "last_doc_id"
    ).toPandas()
    bounds = salt_bounds(8)
    for _, r in blocks.iterrows():
        s = int(r["salt"])
        lo = bounds[s]
        hi = bounds[s + 1] - 1 if s + 1 < 8 else np.iinfo(np.int64).max
        assert lo <= r["first_doc_id"] <= r["last_doc_id"] <= hi
    # within (term, salt) blocks are non-overlapping and ordered
    for (_t, _s), g in blocks.groupby(["term_id", "salt"]):
        g = g.sort_values("first_doc_id")
        assert (g["last_doc_id"].to_numpy()[:-1]
                < g["first_doc_id"].to_numpy()[1:]).all()


def test_hot_term_is_split_across_salts(spark, transcripts, tmp_path):
    d = str(tmp_path / "hot")
    build_index(spark, transcripts, d, BuildConfig(n_ranges=8, n_buckets=2))
    hot_id = [tid for tid, t in _term_names(spark, d).items()
              if t == "the_hot_term"][0]
    salts = (
        spark.read.parquet(f"{d}/postings")
        .where(F.col("term_id") == hot_id)
        .select("salt").distinct().count()
    )
    assert salts == 8  # a >30%-df term must hit every doc range


def test_resume_skips_committed_buckets_and_is_identical(
    spark, transcripts, tmp_path
):
    full = str(tmp_path / "full")
    cfg = BuildConfig(n_ranges=4, n_buckets=4, n_chunks=4)
    build_index(spark, transcripts, full, cfg)

    # simulate a kill after 2 of 4 chunks: build into a fresh dir, then
    # drop the last 2 manifest rows and their postings dirs
    part = str(tmp_path / "part")
    build_index(spark, transcripts, part, cfg)
    manifest = spark.read.parquet(f"{part}/manifest").toPandas()
    keep = sorted(manifest["tb"].astype(int))[:2]
    import shutil  # noqa: PLC0415

    for tb in range(4):
        if tb not in keep:
            shutil.rmtree(f"{part}/postings/tb={tb}", ignore_errors=True)
    spark.createDataFrame(
        manifest[manifest["tb"].isin(keep)]
    ).write.mode("overwrite").parquet(f"{part}/manifest")

    metrics = build_index(spark, transcripts, part, cfg)
    assert metrics["resumed"] is True
    assert metrics["n_new_buckets"] == 2

    a = _decode_all_postings(spark, full)
    b = _decode_all_postings(spark, part)
    pd.testing.assert_frame_equal(a, b)



def test_resume_fails_loud_on_corrupt_manifest(spark, transcripts,
                                               tmp_path):
    # a committed manifest part file that cannot be read is corruption,
    # not "nothing committed": resuming must raise naming the manifest
    # instead of re-encoding every bucket and appending duplicate rows
    import glob  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    d = str(tmp_path / "corrupt")
    cfg = BuildConfig(n_ranges=2, n_buckets=2, n_chunks=1)
    build_index(spark, transcripts, d, cfg)
    parts = sorted(glob.glob(f"{d}/manifest/part-*"))
    assert parts
    with open(parts[0], "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(RuntimeError, match="unreadable build manifest"):
        build_index(spark, transcripts, d, cfg)

    # a kill during the FIRST manifest append leaves the directory with
    # no committed part file: that still means nothing is committed
    for p in glob.glob(f"{d}/manifest/*"):
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)
    os.makedirs(f"{d}/manifest/_temporary/0")
    m = build_index(spark, transcripts, d, cfg)
    assert m["resumed"] is False and m["n_new_buckets"] == 2


def test_noop_rerun(spark, transcripts, tmp_path):
    d = str(tmp_path / "noop")
    cfg = BuildConfig(n_ranges=4, n_buckets=4)
    build_index(spark, transcripts, d, cfg)
    m = build_index(spark, transcripts, d, cfg)
    assert m["resumed"] is True and m["n_new_buckets"] == 0


def test_killed_build_is_unreadable_then_resumes(spark, transcripts,
                                                 tmp_path, monkeypatch):
    # a build killed in its last chunk has committed bucket 0 but not
    # meta.json: the dir is not an index yet, so a read raises instead
    # of answering (and caching) from the partial postings; the resumed
    # build then answers like a clean one in the same process
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from prow_jobs_scraper_spark.index import build
    from prow_jobs_scraper_spark.search.compressed import search_topk

    cfg = BuildConfig(n_ranges=2, n_buckets=2, n_chunks=2)
    clean = str(tmp_path / "clean")
    build_index(spark, transcripts, clean, cfg)
    term = (spark.read.parquet(f"{clean}/term_stats").where("tb = 1")
            .orderBy(F.desc("df"), "term").first()["term"])

    make_encoder = build._make_encoder

    def killed_at_bucket_1(*args, **kwargs):
        encode = make_encoder(*args, **kwargs)

        def kill(key, tbl):
            tb = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
            if int(tb) == 1:
                raise RuntimeError("killed in bucket 1")
            return encode(key, tbl)
        return kill

    d = str(tmp_path / "killed")
    monkeypatch.setattr(build, "_make_encoder", killed_at_bucket_1)
    with pytest.raises(Exception, match="killed in bucket 1"):
        build_index(spark, transcripts, d, cfg)
    assert not os.path.exists(f"{d}/meta.json")
    # a meta.json left by a build that wrote it first is withdrawn
    # before the missing buckets are written
    shutil.copy(f"{clean}/meta.json", f"{d}/meta.json")
    with pytest.raises(Exception, match="killed in bucket 1"):
        build_index(spark, transcripts, d, cfg)
    monkeypatch.undo()
    assert not os.path.exists(f"{d}/meta.json")
    with pytest.raises(FileNotFoundError):
        search_topk(spark, d, term, 5).collect()

    m = build_index(spark, transcripts, d, cfg)
    assert m["resumed"] is True and m["n_new_buckets"] == 1
    want = search_topk(spark, clean, term, 5).toPandas()
    got = search_topk(spark, d, term, 5).toPandas()
    assert len(want) == 5
    pd.testing.assert_frame_equal(got, want)


def test_kill_at_meta_commit_leaves_no_index_then_rerun_commits(
        spark, transcripts, tmp_path, monkeypatch):
    # meta.json is the index's last commit and it is atomic: a kill
    # inside it leaves no meta.json (never a torn one); the rerun finds
    # every bucket committed, encodes nothing and writes meta.json
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    from prow_jobs_scraper_spark import commit

    def killed(path, obj):
        raise RuntimeError("killed at the meta commit")

    d = str(tmp_path / "meta_kill")
    cfg = BuildConfig(n_ranges=2, n_buckets=2)
    monkeypatch.setattr(commit, "write_json", killed)
    with pytest.raises(RuntimeError, match="meta commit"):
        build_index(spark, transcripts, d, cfg)
    monkeypatch.undo()
    assert not os.path.exists(f"{d}/meta.json")

    m = build_index(spark, transcripts, d, cfg)
    assert m["resumed"] is True and m["n_new_buckets"] == 0
    with open(f"{d}/meta.json") as f:
        assert json.load(f)["n_docs"] == m["n_docs"]


def test_compact_segments_equals_monolithic_build(spark, transcripts,
                                                  tmp_path):
    # Lucene-style segment merge: two independently-built segments
    # compacted WITHOUT re-tokenizing must equal an index built from the
    # whole corpus — same meta stats, same per-(term,salt) posting
    # counts, and rank+score-identical search results
    import json
    import os

    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.index.build import (
        BuildConfig,
        build_index,
        compact_segments,
    )
    from prow_jobs_scraper_spark.search.compressed import search_topk
    from prow_jobs_scraper_spark.synth import reference_query_set

    cfg = BuildConfig(n_ranges=8, n_buckets=4)
    mono = str(tmp_path / "mono")
    build_index(spark, transcripts, mono, cfg)

    half_a = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    da, db = str(tmp_path / "ca"), str(tmp_path / "cb")
    # segments deliberately use a DIFFERENT layout than the target
    build_index(spark, half_a, da, BuildConfig(n_ranges=4, n_buckets=2))
    build_index(spark, half_b, db, BuildConfig(n_ranges=2, n_buckets=2))

    out = str(tmp_path / "compacted")
    m = compact_segments(spark, [da, db], out, cfg)

    mono_meta = json.load(open(os.path.join(mono, "meta.json")))
    assert m["n_docs"] == mono_meta["n_docs"]
    assert abs(m["avgdl"] - mono_meta["avgdl"]) < 1e-9
    assert m["fingerprint"] == mono_meta["fingerprint"]

    # identical physical postings: same (term_id, salt, block_id) rows
    # with the same doc counts and spans
    cols = ["term_id", "salt", "block_id", "n_docs",
            "first_doc_id", "last_doc_id"]
    pm = (spark.read.parquet(os.path.join(mono, "postings"))
          .select(cols).toPandas().sort_values(cols).reset_index(drop=True))
    pc = (spark.read.parquet(os.path.join(out, "postings"))
          .select(cols).toPandas().sort_values(cols).reset_index(drop=True))
    assert pm.equals(pc)

    for q in reference_query_set()[:5]:
        want = search_topk(spark, mono, q["query_text"], q["k"]).toPandas()
        got = search_topk(spark, out, q["query_text"], q["k"]).toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), q
        assert got["score"].tolist() == want["score"].tolist(), q


def test_compact_carries_positions_sidecar(spark, transcripts, tmp_path):
    # merging positions-bearing segments keeps the sidecar (Lucene keeps
    # .pos across merges) — the compacted index answers match_phrase
    # with docs_df=None identically to the corpus re-check; merging a
    # mixed set (one segment lacks positions) yields has_positions=False
    import json
    import os

    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.index.build import (
        BuildConfig,
        build_index,
        compact_segments,
    )
    from prow_jobs_scraper_spark.search.compressed import search_phrase

    half_a = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    da, db = str(tmp_path / "pa"), str(tmp_path / "pb")
    build_index(spark, half_a, da,
                BuildConfig(n_ranges=4, n_buckets=2, store_positions=True))
    build_index(spark, half_b, db,
                BuildConfig(n_ranges=2, n_buckets=2, store_positions=True))

    out = str(tmp_path / "pc_out")
    m = compact_segments(spark, [da, db], out,
                         BuildConfig(n_ranges=8, n_buckets=4))
    assert m["has_positions"] is True
    for phrase in ("the_hot_term spark", "spark agent"):
        got = search_phrase(spark, out, None, phrase, 10).toPandas()
        want = search_phrase(spark, out, transcripts, phrase, 10).toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), phrase
        assert got["score"].tolist() == want["score"].tolist(), phrase

    # mixed segments -> no sidecar claimed, positions path refuses
    dc = str(tmp_path / "pc_nopos")
    build_index(spark, half_b, dc, BuildConfig(n_ranges=2, n_buckets=2))
    out2 = str(tmp_path / "pc_mixed")
    m2 = compact_segments(spark, [da, dc], out2,
                          BuildConfig(n_ranges=8, n_buckets=4))
    assert m2["has_positions"] is False
    meta2 = json.load(open(os.path.join(out2, "meta.json")))
    assert meta2["has_positions"] is False
    assert not os.path.exists(os.path.join(out2, "positions"))
