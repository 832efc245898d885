"""spark-submit CLI entrypoints driven in-process: synth -> build ->
search round-trip, each subcommand's JSON output parsed and checked."""

from __future__ import annotations

import json

import pytest

from prow_jobs_scraper_spark import cli


def _run(capsys, argv: list[str]) -> dict:
    assert cli.main(argv) == 0
    out = [ln for ln in capsys.readouterr().out.splitlines()
           if ln.startswith("{")]
    return json.loads(out[-1])


def test_cli_round_trip(spark, tmp_path, capsys):
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")

    r = _run(capsys, ["synth", "--output", corpus, "--n-turns", "500",
                      "--n-partitions", "2"])
    assert r["n_turns"] == 500

    r = _run(capsys, ["build", "--input", corpus, "--output", idx,
                      "--n-ranges", "4", "--n-buckets", "2"])
    assert r["n_docs"] == 500 and r["n_postings"] > 0

    r = _run(capsys, ["search", "--index", idx, "--query", "spark agent",
                      "--k", "5"])
    assert len(r["hits"]) <= 5 and r["latency_sec"] > 0
    scores = [h["score"] for h in r["hits"]]
    assert scores == sorted(scores, reverse=True)

    # resume: second build over the same dir is a no-op
    r = _run(capsys, ["build", "--input", corpus, "--output", idx,
                      "--n-ranges", "4", "--n-buckets", "2"])
    assert r["resumed"] is True and r["n_new_buckets"] == 0

    # filtered search (ES bool shape): subset of the unfiltered hits
    unfiltered = {h["doc_id"] for h in
                  _run(capsys, ["search", "--index", idx, "--query",
                                "spark agent", "--k", "500"])["hits"]}
    r = _run(capsys, ["search", "--index", idx, "--query", "spark agent",
                      "--k", "5", "--filter", "role = 'assistant'"])
    assert r["filter"] == "role = 'assistant'"
    assert {h["doc_id"] for h in r["hits"]} <= unfiltered

    # filtered MULTI-segment: same index passed twice is invalid (docs
    # would duplicate) — use the single segment listed once, comma-free
    # path equivalence is covered in test_search_bm25; here just the
    # plumbing: multi-dir + filter parses and returns ranked hits
    r2 = _run(capsys, ["search", "--index", idx, "--query", "spark agent",
                       "--k", "5", "--operator", "or",
                       "--filter", "role = 'assistant'"])
    scores = [h["score"] for h in r2["hits"]]
    assert scores == sorted(scores, reverse=True)

    # phrase search: index candidates + adjacency re-check vs --corpus
    r3 = _run(capsys, ["search", "--index", idx, "--query",
                       "the_hot_term spark", "--k", "5",
                       "--phrase", "--corpus", corpus])
    assert len(r3["hits"]) == 5  # the synth corpus contains this bigram
    scores3 = [h["score"] for h in r3["hits"]]
    assert scores3 == sorted(scores3, reverse=True)


def test_cli_phrase_search_segment_list(spark, tmp_path, capsys):
    # --phrase fans out over a segment list like the match search: same
    # hits as the DSL match_phrase on the same two segments
    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.index.build import with_doc_ids
    from prow_jobs_scraper_spark.search.dsl import search_dsl_indexed

    corpus = str(tmp_path / "corpus")
    _run(capsys, ["synth", "--output", corpus, "--n-turns", "500",
                  "--n-partitions", "2"])
    docs = with_doc_ids(spark.read.parquet(corpus))
    segs = []
    for part, n_ranges in ((0, "4"), (1, "2")):
        src, seg = str(tmp_path / f"src{part}"), str(tmp_path / f"seg{part}")
        docs.where(F.pmod("doc_id", F.lit(2)) == part).drop("doc_id") \
            .write.parquet(src)
        _run(capsys, ["build", "--input", src, "--output", seg,
                      "--n-ranges", n_ranges, "--n-buckets", "2"])
        segs.append(seg)

    r = _run(capsys, ["search", "--index", ",".join(segs), "--query",
                      "the_hot_term spark", "--k", "5", "--phrase",
                      "--corpus", corpus])
    want = search_dsl_indexed(
        spark, segs,
        {"query": {"match_phrase": {"text": "the_hot_term spark"}}}, 5,
        docs_df=spark.read.parquet(corpus)).collect()
    assert len(r["hits"]) == 5
    assert r["hits"] == [{"doc_id": w["doc_id"], "score": w["score"]}
                         for w in want]


def test_cli_requires_subcommand():
    with pytest.raises(SystemExit):
        cli.main([])


def test_cli_dsl_search(spark, tmp_path, capsys):
    corpus = str(tmp_path / "dsl_corpus")
    idx = str(tmp_path / "dsl_idx")
    _run(capsys, ["synth", "--output", corpus, "--n-turns", "500",
                  "--n-partitions", "2"])
    _run(capsys, ["build", "--input", corpus, "--output", idx,
                  "--n-ranges", "4", "--n-buckets", "2"])

    q = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark agent",
                                     "operator": "or"}}}],
        "filter": [{"term": {"role": "assistant"}}],
    }}}
    r = _run(capsys, ["search", "--index", idx, "--dsl", json.dumps(q),
                      "--k", "5"])
    assert r["dsl"] == q and len(r["hits"]) <= 5
    scores = [h["score"] for h in r["hits"]]
    assert scores == sorted(scores, reverse=True)

    # @file form + equality with the inline form
    f = tmp_path / "q.json"
    f.write_text(json.dumps(q))
    r2 = _run(capsys, ["search", "--index", idx, "--dsl", f"@{f}",
                       "--k", "5"])
    assert r2["hits"] == r["hits"]

    # --count: the ES _count endpoint — qualifying-set size, no hits;
    # must equal the full (untruncated) hit count of the same query
    rc = _run(capsys, ["search", "--index", idx, "--dsl", json.dumps(q),
                       "--count"])
    rfull = _run(capsys, ["search", "--index", idx, "--dsl",
                          json.dumps(q), "--k", "100000"])
    assert rc["count"] == len(rfull["hits"])
    assert "hits" not in rc

    # --dsl with an aggs block: the ES _search aggregation shape,
    # answered from the index (buckets, not hits)
    ra = _run(capsys, ["search", "--index", idx, "--dsl", json.dumps({
        **q, "aggs": {"by_role": {"terms": {"field": "role",
                                            "size": 10}}},
    })])
    assert "hits" not in ra and ra["buckets"]
    assert sum(b["doc_count"] for b in ra["buckets"]) == rc["count"]
    rf = _run(capsys, ["search", "--index", idx, "--dsl", json.dumps({
        "aggs": {"groups": {"filters": {"filters": {
            "assistants": {"term": {"role": "assistant"}},
            "everything": {"match_all": {}}}}}},
    })])
    assert [b["key"] for b in rf["buckets"]] == ["assistants",
                                                 "everything"]

    # --dsl with highlight: hits carry the highlight_* column (needs
    # --corpus, the index stores no field text)
    rh = _run(capsys, ["search", "--index", idx, "--corpus", corpus,
                       "--dsl", json.dumps({
                           "query": {"match": {"text": {
                               "query": "spark agent",
                               "operator": "or"}}},
                           "size": 3,
                           "highlight": {"fields": {"text": {}},
                                         "number_of_fragments": 0}})])
    assert rh["hits"] and all("highlight_text" in h for h in rh["hits"])
    assert any(h["highlight_text"] and "<em>" in h["highlight_text"]
               for h in rh["hits"])

    # --suggest: the term suggester against the index vocabulary
    rs = _run(capsys, ["search", "--index", idx, "--suggest",
                       json.dumps({"suggest": {"fix": {
                           "text": "agnt",
                           "term": {"field": "text",
                                    "prefix_length": 0}}}})])
    assert any(s["suggestion"] == "agent" for s in rs["suggestions"])
    with pytest.raises(SystemExit):  # mutually exclusive shapes
        cli.main(["search", "--index", idx, "--suggest", "{}",
                  "--dsl", "{}"])

    # --suggest with a phrase block routes to the phrase suggester
    # (needs --corpus for its n-gram language model)
    preq = json.dumps({"suggest": {"fix": {
        "text": "spark agnt",
        "phrase": {"field": "text",
                   "direct_generator": [{"prefix_length": 0}]}}}})
    rp = _run(capsys, ["search", "--index", idx, "--suggest", preq,
                       "--corpus", corpus])
    assert any(s["suggestion"] == "spark agent"
               for s in rp["suggestions"])
    with pytest.raises(SystemExit):  # corpus-less phrase request
        cli.main(["search", "--index", idx, "--suggest", preq])

    # neither --query nor --dsl is an error
    with pytest.raises(SystemExit):
        cli.main(["search", "--index", idx, "--k", "5"])


def test_cli_package_zip_is_deterministic(tmp_path, capsys):
    z1 = str(tmp_path / "a.zip")
    z2 = str(tmp_path / "b.zip")
    r1 = _run(capsys, ["package", "--output", z1])
    r2 = _run(capsys, ["package", "--output", z2])
    assert r1["n_files"] == r2["n_files"] > 10
    with open(z1, "rb") as f1, open(z2, "rb") as f2:
        assert f1.read() == f2.read()  # byte-identical submission artifact


def test_spark_submit_py_files_end_to_end(spark, tmp_path, capsys):
    """The north rule's submission shape, run for REAL: package the repo
    into a --py-files zip, then drive synth -> build -> search through
    actual ``spark-submit`` subprocesses that see ONLY the zip (the app
    file is a copy of cli.py in a bare tmp dir; PYTHONPATH is scrubbed).
    The final hits must be rank+score identical to the in-process path
    over the same index."""
    import os
    import shutil
    import subprocess

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    zip_path = str(tmp_path / "pjs_spark.zip")
    _run(capsys, ["package", "--output", zip_path])
    app = str(tmp_path / "app.py")
    shutil.copyfile(
        os.path.join(os.path.dirname(cli.__file__), "cli.py"), app)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")

    def submit(*argv) -> dict:
        proc = subprocess.run(
            [spark_submit, "--master", "local[2]",
             "--py-files", zip_path, app, *argv],
            cwd=str(tmp_path), env=env, capture_output=True, text=True,
            timeout=300, check=True)
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("{")][-1]
        return json.loads(line)

    r = submit("synth", "--output", corpus, "--n-turns", "400",
               "--n-partitions", "2")
    assert r["n_turns"] == 400
    r = submit("build", "--input", corpus, "--output", idx,
               "--n-ranges", "4", "--n-buckets", "2")
    assert r["n_docs"] == 400 and r["n_postings"] > 0
    r = submit("search", "--index", idx, "--query", "spark agent",
               "--k", "5")
    assert len(r["hits"]) == 5

    # the submitted job's answers == the in-process engine's answers
    from prow_jobs_scraper_spark.search import search_topk
    want = search_topk(spark, idx, "spark agent", 5).toPandas()
    assert [h["doc_id"] for h in r["hits"]] == want["doc_id"].tolist()
    import numpy as np
    np.testing.assert_allclose(
        [h["score"] for h in r["hits"]], want["score"].to_numpy(),
        rtol=1e-12)


def test_cli_tick_incremental(spark, tmp_path, capsys):
    """`tick` = one cron pass: ingest delta -> one new segment; an idle
    rerun is a no-op; the produced segment is searchable."""
    src = str(tmp_path / "tick_src")
    work = str(tmp_path / "tick_work")
    _run(capsys, ["synth", "--output", src, "--n-turns", "400",
                  "--n-partitions", "2"])
    r1 = _run(capsys, ["tick", "--source", src, "--work", work,
                       "--n-ranges", "4", "--n-buckets", "2"])
    assert r1["new_segment"] and len(r1["segments"]) == 1
    assert r1["n_new_turns"] == 400
    r2 = _run(capsys, ["tick", "--source", src, "--work", work,
                       "--n-ranges", "4", "--n-buckets", "2"])
    assert r2["new_segment"] is None and r2["n_new_turns"] == 0
    r = _run(capsys, ["search", "--index", r1["new_segment"],
                      "--query", "spark", "--k", "3"])
    assert len(r["hits"]) == 3


def test_cli_textqc(spark, tmp_path, capsys):
    """`textqc` = the training-data curation pass: quality/repetition/
    PII features over a documents parquet, plus 13-gram contamination
    flags against a benchmark table; summary counts match the written
    table."""
    import pandas as pd

    src = str(tmp_path / "qc_docs")
    bench = str(tmp_path / "qc_bench")
    out = str(tmp_path / "qc_out")
    docs = pd.DataFrame({
        "doc_id": range(6),
        "text": [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi",
            "mail me at bob@example.com about the run",
            "one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen",
            "the quick brown fox jumps over the lazy dog repeatedly",
            "spam spam spam spam spam spam",
            "clean text with nothing special at all here today",
        ],
    })
    spark.createDataFrame(docs).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pd.DataFrame({"text": [
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen"]})).write.mode("overwrite").parquet(bench)
    r = _run(capsys, ["textqc", "--table", src, "--output", out,
                      "--benchmark", bench])
    assert r["n_docs"] == 6
    assert r["n_contaminated_docs"] == 1
    assert r["n_pii_docs"] == 1
    got = {row["doc_id"]: row
           for row in spark.read.parquet(out).collect()}
    assert got[2]["is_contaminated"] and not got[0]["is_contaminated"]
    assert got[1]["n_emails"] == 1 and "<EMAIL>" in got[1]["text_scrubbed"]
    assert got[4]["distinct_ratio"] < 0.5
    assert set(got[0].asDict()) >= {
        "quality_score", "lang_pred", "n_tokens", "dup_5gram_frac",
        "top_2gram_char_frac", "contaminated_frac"}
    # without a benchmark: no contamination columns, still one pass
    out2 = str(tmp_path / "qc_out2")
    r2 = _run(capsys, ["textqc", "--table", src, "--output", out2])
    assert r2["n_docs"] == 6 and "n_contaminated_docs" not in r2
    assert "is_contaminated" not in spark.read.parquet(out2).columns


def test_cli_textqc_text_col(spark, tmp_path, capsys):
    """`textqc --text-col` names the text column for EVERY feature pass:
    a table whose text lives in `body` (no `text` column at all) gets
    the same quality_score the operator computes on that column."""
    import pandas as pd

    from prow_jobs_scraper_spark.operators.textqc import quality_score

    src = str(tmp_path / "qc_body")
    out = str(tmp_path / "qc_body_out")
    docs = pd.DataFrame({
        "doc_id": range(3),
        "body": ["the quick brown fox jumps over the lazy dog today",
                 "spam spam spam spam spam spam",
                 "mail me at bob@example.com about the run"],
    })
    spark.createDataFrame(docs).write.mode("overwrite").parquet(src)
    r = _run(capsys, ["textqc", "--table", src, "--output", out,
                      "--text-col", "body"])
    assert r["n_docs"] == 3 and r["n_pii_docs"] == 1
    got = {row["doc_id"]: row["quality_score"]
           for row in spark.read.parquet(out).collect()}
    want = {row["doc_id"]: row["quality_score"] for row in quality_score(
        spark.read.parquet(src), text_col="body").collect()}
    assert got == pytest.approx(want)
    assert got[0] > got[1] > 0
