"""Dedup + similarity operators: planted-duplicate recall and brute-force
agreement checks on deterministic fixtures."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from prow_jobs_scraper_spark.operators import dedup as D
from prow_jobs_scraper_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    rows = []
    for i in range(20):
        rows.append((i, f"unique document number {i} about topic_{i} "
                        f"with content {'x%d ' % i * 5}"))
    rows.append((100, base))
    rows.append((101, base))                        # exact dup of 100
    rows.append((102, base.replace("lazy", "sleepy")))  # near dup
    rows.append((103, "completely different text about spark engines"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = D.exact_dedup(docs)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 100 in ids and 101 not in ids  # min id kept
    assert out.count() == docs.count() - 1


def test_minhash_lsh_finds_planted_pair(docs):
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100, 101) in got            # identical docs always collide
    assert (100, 102) in got or (101, 102) in got  # near dup
    # estimated jaccard for identical docs is 1.0
    exact = [r for r in pairs if (r["id_a"], r["id_b"]) == (100, 101)][0]
    assert exact["est_jaccard"] == pytest.approx(1.0)


def test_simhash_near_dup(docs):
    pairs = D.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((100, 101)) == 0


def test_ngram_jaccard_pairs(docs):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got.get((100, 101)) == pytest.approx(1.0)
    near = got.get((100, 102))
    assert near is not None and 0.5 <= near < 1.0


def test_ngram_jaccard_hot_shingle_cap(spark):
    # one ubiquitous shingle ("corpus") appears in EVERY doc: uncapped,
    # the low-threshold co-occurrence join emits all n·(n−1)/2 candidate
    # pairs off that single shingle; with max_df it contributes none,
    # while true near-dups sharing RARE shingles still come out with
    # their EXACT jaccard (verification runs on full shingle sets)
    n = 40
    rows = [(i, f"corpus doc {i} topic_{i} alpha_{i} beta_{i}")
            for i in range(n)]
    rows.append((900, "corpus special rare pair gamma delta"))
    rows.append((901, "corpus special rare pair gamma epsilon"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = D.ngram_jaccard_pairs(df, shingle_n=1, threshold=0.4,
                                   max_df=5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert (900, 901) in got
    # exact jaccard: 5 shared of 7 distinct unigrams -> 5/7
    assert got[(900, 901)] == pytest.approx(5 / 7)
    # the hot shingle must not manufacture pairs between unrelated docs
    assert not any(a < 900 and b < 900 for a, b in got)

    # and the candidate count is bounded: the internal capped join emits
    # pairs only via rare shingles (df<=5), not the n^2 hot-shingle pairs
    uncapped = D.ngram_jaccard_pairs(df, shingle_n=1, threshold=0.0001)
    assert uncapped.count() >= n * (n - 1) / 2  # blowup without the cap
    assert capped.count() == 1


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    vecs[7] = vecs[3] * 1.001 + 0.0001  # planted near-identical pair
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_matches_numpy(embeddings):
    pdf = embeddings.toPandas()
    m = np.stack(pdf["embedding"].map(np.asarray))
    q = m[3].astype(np.float64).tolist()
    sims = (m @ np.asarray(q)) / (
        np.linalg.norm(m, axis=1) * np.linalg.norm(q) + 1e-12)
    order = np.lexsort((pdf["vec_id"].to_numpy(), -sims))[:5]
    want = pdf["vec_id"].to_numpy()[order].tolist()
    got = S.brute_force_topk(embeddings, q, 5).collect()
    assert [r["vec_id"] for r in got] == want
    assert got[0]["vec_id"] == 3 and got[1]["vec_id"] == 7


def test_lsh_topk_recalls_nearest(embeddings):
    pdf = embeddings.toPandas()
    q = np.asarray(pdf.loc[pdf.vec_id == 3, "embedding"].iloc[0], dtype=float)
    got = S.lsh_bucketed_topk(embeddings, q.tolist(), 3,
                              n_planes=8, multi_probe=2).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] == 3 and 7 in ids  # the planted near-dup is recalled


def test_pairwise_cosine_dedup(embeddings):
    pairs = S.pairwise_cosine_dedup(embeddings, threshold=0.999).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (3, 7) in got


def test_ivf_topk_recall_and_exactness(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from prow_jobs_scraper_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in e.where(F.col("vec_id") == 3).first()["embedding"]]
    exact = brute_force_topk(e, q, 10).collect()
    # full-probe IVF must equal brute force (it scans everything)
    full = ivf_topk(e, q, 10, n_lists=8, n_probe=8).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]
    np.testing.assert_allclose([r["cosine"] for r in full],
                               [r["cosine"] for r in exact], rtol=1e-12)
    # partial probe: the query's own vector (cosine 1.0) must be found
    part = ivf_topk(e, q, 10, n_lists=8, n_probe=2).collect()
    assert part and part[0]["vec_id"] == 3
    got = {r["vec_id"] for r in part}
    want = {r["vec_id"] for r in exact}
    assert len(got & want) >= 5  # recall@10 >= 0.5 with 2/8 probes


def test_persisted_lsh_index_matches_oneshot(embeddings, transcripts,
                                            tmp_path):
    # build/probe split must return exactly what the one-shot bucketed
    # path computes (same planes, same probe set, same rescoring)
    pdf = embeddings.toPandas()
    q = [float(x) for x in pdf.loc[pdf.vec_id == 3, "embedding"].iloc[0]]
    d = str(tmp_path / "lsh")
    meta = S.build_lsh_index(embeddings, d, n_planes=8)
    assert meta["n_planes"] == 8 and meta["dim"] == 16
    spark = embeddings.sparkSession
    got = S.lsh_probe_topk(spark, d, q, 5, multi_probe=2).collect()
    want = S.lsh_bucketed_topk(embeddings, q, 5,
                               n_planes=8, multi_probe=2).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == \
           [(r["vec_id"], r["cosine"]) for r in want]

    # the index build and a partitioned delete set their overwrite mode
    # per write, never on the session: a later whole-table overwrite
    # (this LSH rebuild under another seed) still replaces every bucket
    # instead of keeping the first build's buckets next to the new ones
    from prow_jobs_scraper_spark.index.build import BuildConfig, build_index
    from prow_jobs_scraper_spark.sources.readers import delete_where

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(mode_key)
    spark.conf.set(mode_key, "static")
    try:
        build_index(spark, transcripts, str(tmp_path / "idx"),
                    BuildConfig(n_ranges=2, n_buckets=2))
        part = str(tmp_path / "part")
        spark.range(30).select(
            "id", (F.col("id") % 3).cast("int").alias("kind")
        ).write.partitionBy("kind").parquet(part)
        delete_where(spark, part, "kind = 1 AND id < 10")
        assert spark.conf.get(mode_key).lower() == "static"

        S.build_lsh_index(embeddings, d, n_planes=8, seed=2)
        assert (spark.read.parquet(f"{d}/table").count()
                == embeddings.count())
    finally:
        spark.conf.set(mode_key, saved)


def test_killed_vector_index_rebuild_fails_loud_then_reruns(
        embeddings, tmp_path, monkeypatch):
    # a rebuild killed after the new bucket table but before its sidecar
    # must leave no loadable index (the probe used to answer [] from a
    # seed-2 table beside seed-1 planes); a rerun commits a whole one
    from pyspark.sql import DataFrameWriter

    spark = embeddings.sparkSession
    pdf = embeddings.toPandas()
    q = [float(x) for x in pdf.loc[pdf.vec_id == 3, "embedding"].iloc[0]]
    real = DataFrameWriter.parquet

    def kill_at(sidecar):
        def write(self, path, *args, **kwargs):
            if str(path).rstrip("/").endswith("/" + sidecar):
                raise OSError(f"killed before the {sidecar} write")
            return real(self, path, *args, **kwargs)
        return write

    d = str(tmp_path / "lsh")
    S.build_lsh_index(embeddings, d, seed=1)
    monkeypatch.setattr(DataFrameWriter, "parquet", kill_at("planes"))
    with pytest.raises(OSError, match="planes"):
        S.build_lsh_index(embeddings, d, seed=2)
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError, match="meta.json"):
        S.lsh_probe_topk(spark, d, q, 5, multi_probe=0).collect()
    assert S.build_lsh_index(embeddings, d, seed=2)["seed"] == 2
    got = S.lsh_probe_topk(spark, d, q, 5, multi_probe=0).collect()
    want = S.lsh_bucketed_topk(embeddings, q, 5, seed=2,
                               multi_probe=0).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    assert got[0]["vec_id"] == 3

    # the IVF and IVF-PQ builders commit the same way
    d = str(tmp_path / "ivfpq")
    S.build_ivfpq_index(embeddings, d, n_lists=4, m=4, sample_n=50)
    monkeypatch.setattr(DataFrameWriter, "parquet", kill_at("codebooks"))
    with pytest.raises(OSError, match="codebooks"):
        S.build_ivfpq_index(embeddings, d, n_lists=4, m=4, seed=7,
                            sample_n=50)
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError, match="meta.json"):
        S.ivfpq_probe_topk(spark, d, q, 5).collect()
    with pytest.raises(FileNotFoundError, match="meta.json"):
        S.load_ivf_centroids(spark, d)


def test_persisted_ivf_index_matches_oneshot(embeddings, tmp_path):
    pdf = embeddings.toPandas()
    q = [float(x) for x in pdf.loc[pdf.vec_id == 3, "embedding"].iloc[0]]
    d = str(tmp_path / "ivf")
    meta = S.build_ivf_index(embeddings, d, n_lists=8)
    assert meta["n_lists"] == 8
    spark = embeddings.sparkSession
    got = S.ivf_probe_topk(spark, d, q, 5, n_probe=3).collect()
    want = S.ivf_topk(embeddings, q, 5, n_lists=8, n_probe=3).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == \
           [(r["vec_id"], r["cosine"]) for r in want]
    # head-rule centroids (the SQL-oracle-friendly pick) also round-trip
    d2 = str(tmp_path / "ivf_head")
    S.build_ivf_index(embeddings, d2, n_lists=8, centroids="head")
    got2 = S.ivf_probe_topk(spark, d2, q, 5, n_probe=8).collect()
    exact = S.brute_force_topk(embeddings, q, 5).collect()
    assert [r["vec_id"] for r in got2] == [r["vec_id"] for r in exact]


def test_ivf_kmeans_refinement_improves_quantization(spark, tmp_path):
    # clustered corpus: Lloyd iterations must not decrease the spherical
    # k-means objective (mean cosine to assigned centroid), and on a
    # well-separated mixture they strictly improve over sampled seeds
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((6, 16)) * 4
    vecs = np.concatenate([
        c + rng.standard_normal((50, 16)) * 0.2 for c in centers
    ]).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    _, C0 = S.ivf_assignments(emb, n_lists=6, seed=1)
    C1 = S.kmeans_refine(emb, C0.copy(), iters=3)

    m = vecs.astype(np.float64)
    m = m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)

    def objective(C):
        return float((m @ C.T).max(axis=1).mean())

    assert objective(C1) >= objective(C0) - 1e-9
    assert objective(C1) > objective(C0) + 0.01  # strictly better here

    # end-to-end: refined index probes still return the exact neighbor
    d = str(tmp_path / "ivf_km")
    S.build_ivf_index(emb, d, n_lists=6, seed=1, kmeans_iters=2)
    q = [float(x) for x in vecs[10]]
    got = S.ivf_probe_topk(spark, d, q, 5, n_probe=1).collect()
    assert got[0]["vec_id"] == 10  # own vector found probing ONE list


def test_ivfpq_probe_recall_and_exactness(spark, tmp_path):
    # IVF-PQ: ADC candidates + exact rescore. On a clustered corpus the
    # probe must (a) find the query's own vector probing one list,
    # (b) reach high recall@10 vs brute force at modest n_probe/refine,
    # (c) return EXACT cosines for whatever it returns (rescore stage).
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((8, 32)) * 4
    vecs = np.concatenate([
        c + rng.standard_normal((80, 32)) * 0.25 for c in centers
    ]).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    d = str(tmp_path / "ivfpq")
    meta = S.build_ivfpq_index(emb, d, n_lists=8, m=8, seed=3,
                               sample_n=640)
    assert meta["m"] == 8 and meta["dsub"] == 4

    q = [float(x) for x in vecs[17]]
    got = S.ivfpq_probe_topk(spark, d, q, 10, n_probe=2,
                             refine=8).toPandas()
    assert got["vec_id"].iloc[0] == 17  # own vector, exact cosine ~1
    assert got["cosine"].iloc[0] > 0.999

    want = S.brute_force_topk(emb, q, 10).toPandas()
    recall = len(set(got["vec_id"]) & set(want["vec_id"])) / 10
    assert recall >= 0.8, (recall, got, want)

    # rescored cosines are EXACT: every returned (id, cosine) matches
    # the brute-force value bit-for-bit (same Catalyst expression)
    bf = dict(zip(want["vec_id"], want["cosine"]))
    for vid, cos in zip(got["vec_id"], got["cosine"]):
        if vid in bf:
            assert abs(cos - bf[vid]) < 1e-12

    # codebook sidecar roundtrip feeds repeated probes client-side
    books = S.load_pq_codebooks(spark, d)
    C = S.load_ivf_centroids(spark, d)
    again = S.ivfpq_probe_topk(spark, d, q, 10, n_probe=2, refine=8,
                               centroids=C, codebooks=books).toPandas()
    assert again["vec_id"].tolist() == got["vec_id"].tolist()


# --------------------------------------------------------------------------
# connected components / near-dup clustering (round 4)
# --------------------------------------------------------------------------

def _union_find_labels(n_nodes, edges):
    """Independent oracle: plain union-find, label = component min."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [
    (1, 60, 40), (2, 100, 150), (3, 40, 8),
])
def test_connected_components_random_graphs(spark, seed, n_nodes, n_edges):
    rng = np.random.default_rng(seed)
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, n_nodes, size=(n_edges, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {int(r["doc_id"]): int(r["cluster_id"])
           for r in D.connected_components(pairs).collect()}
    want = _union_find_labels(n_nodes, edges)
    touched = {a for e in edges for a in e}
    assert set(got) == touched  # only nodes appearing in pairs
    for node in touched:
        assert got[node] == want[node], f"node {node}"


def test_connected_components_long_chain_converges(spark):
    # a 200-node chain has diameter 199: label propagation would need
    # ~200 rounds; large-star/small-star must finish in max_iters=12
    n = 200
    edges = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = D.connected_components(pairs, max_iters=12).collect()
    assert len(got) == n
    assert {int(r["cluster_id"]) for r in got} == {0}


def test_connected_components_empty_and_self(spark):
    pairs = spark.createDataFrame([(5, 5)], "id_a long, id_b long")
    assert D.connected_components(pairs).count() == 0  # self loops drop


def test_dedup_clusters_labels_every_doc(spark):
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 2), (2, 7), (4, 9)],
                                  "id_a long, id_b long")
    out = {int(r["doc_id"]): (int(r["cluster_id"]), int(r["is_canonical"]))
           for r in D.dedup_clusters(docs, pairs).collect()}
    assert len(out) == 10
    assert out[1] == (1, 1) and out[2] == (1, 0) and out[7] == (1, 0)
    assert out[4] == (4, 1) and out[9] == (4, 0)
    for singleton in (0, 3, 5, 6, 8):
        assert out[singleton] == (singleton, 1)
