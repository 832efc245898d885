"""Large-scale deduplication operators for training-data pipelines.

These go beyond the reference (whose only dedups are the build-id
anti-join, scraper.py:28-32, and keep-first cleanup, SURVEY.md §2.5 W2) —
they're the operations a 100 TB text-corpus pipeline needs. All are
declarative DataFrame plans; the only Python is hash math inside
vectorized expressions or Arrow-batched pandas UDFs.

Scale notes (the design constraint, not an afterthought):
- exact dedup = one hash-shuffle on a 64-bit digest, never on raw text;
- MinHash signatures are computed per-row (narrow), banding turns the
  O(n²) pair problem into a groupBy on band keys; candidate verification
  joins only within buckets;
- SimHash = one 64-bit fingerprint per doc; near-dup pairs via bit-band
  buckets (Hamming ≤ k by pigeonhole across 4 bands of 16 bits).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prow_jobs_scraper_spark.functions.tokenize import tokenize_column



def _hash_params(n_hashes: int, seed: int = 42):
    """Multiply-shift universal-hash parameters: odd multipliers + offsets.

    h_i(x) = (a_i * x + b_i) in uint64 two's-complement wraparound — the
    standard multiply-shift family. No modulo: the Mersenne-prime variant
    measured ~8 s of pure uint64 ``%`` per 260k-shingle batch."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 62, size=n_hashes, dtype=np.int64).astype(np.uint64)
    a |= np.uint64(1)  # odd multipliers
    b = rng.integers(0, 1 << 62, size=n_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per identical text.

    Shuffles on xxhash64(text) (8 bytes/row), not the text itself; the
    min-id pick is a partial-aggregating min, no window sort needed."""
    keyed = df.withColumn("__h", F.xxhash64(F.col(text_col)))
    keep = keyed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, ["__h", id_col], "left_semi").drop("__h")


def shingles_of(toks, n: int = 3):
    """Token n-gram shingles from a MATERIALIZED tokens column.

    ``toks`` must be a plain column reference (not the tokenize
    expression itself): Catalyst does not CSE a regexp inside a
    higher-order ``transform``, so passing the raw tokenize expression
    re-ran the regexp once per shingle position — quadratic in document
    length (measured 10 s JVM time for 260k shingles)."""
    return F.when(F.size(toks) >= n,
                  F.transform(
                      F.sequence(F.lit(0), F.size(toks) - n),
                      lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                  )).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 64,
                       shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """Per-doc MinHash signature (array<long>, length n_hashes).

    Shingle base-hashes are computed JVM-side (xxhash64 inside a
    higher-order ``transform`` — deterministic across executors, unlike
    Python's seed-randomized ``hash``); the pandas UDF is numeric-only:
    the n_hashes permutations are one (n_shingles × n_hashes) numpy min
    per doc."""
    a, b = _hash_params(n_hashes, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(hashes: pd.Series) -> pd.Series:
        # one vectorized pass over the whole Arrow batch: flatten every
        # doc's shingle hashes, permute as a (total_shingles, n_hashes)
        # matrix, then per-doc column minima via minimum.reduceat — no
        # per-row Python (a per-doc loop here measured as the slowest
        # headline operator)
        lens = hashes.map(lambda x: 0 if x is None else len(x)).to_numpy(
            dtype=np.int64)
        n_rows = lens.size
        out_arr = np.zeros((n_rows, n_hashes), dtype=np.int64)
        nz = np.flatnonzero(lens)
        if nz.size:
            flat = np.concatenate(
                [np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz]
            ).astype(np.uint64) & np.uint64(0x7FFFFFFFFFFFFFFF)
            starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
            perm = flat[:, None] * a[None, :] + b[None, :]  # u64 wraparound
            out_arr[nz] = (np.minimum.reduceat(perm, starts, axis=0)
                           >> np.uint64(1)).astype(np.int64)
        return pd.Series(list(out_arr))

    with_toks = df.withColumn("__toks", tokenize_column(F.col(text_col)))
    shingle_hashes = F.transform(
        shingles_of(F.col("__toks"), shingle_n), lambda s: F.xxhash64(s)
    )
    return with_toks.select(
        id_col, F.col(text_col), sig(shingle_hashes).alias("signature")
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      threshold: float = 0.7, seed: int = 42) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    signature → ``bands`` band-hash keys → explode → groupBy band key
    (the shuffle is on tiny band hashes) → within-bucket self-join →
    verified Jaccard estimate = fraction of equal signature components
    ≥ threshold. Returns (id_a, id_b, est_jaccard), id_a < id_b."""
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n, seed)
    banded = sigs.select(
        F.col(id_col), "signature",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.xxhash64(
                    F.concat_ws(
                        ",", F.slice("signature",
                                     bnd * rows_per_band + 1, rows_per_band)
                    ),
                    bnd,
                ),
            )
        ).alias("band", "band_key"),
    )
    left = banded.select(F.col("band"), F.col("band_key"),
                         F.col(id_col).alias("id_a"),
                         F.col("signature").alias("sig_a"))
    right = banded.select(F.col("band"), F.col("band_key"),
                          F.col(id_col).alias("id_b"),
                          F.col("signature").alias("sig_b"))
    pairs = (
        left.join(right, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v,
    ) / F.lit(float(n_hashes))
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def exact_jaccard_for_pairs(df: DataFrame, pairs: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            shingle_n: int = 1) -> DataFrame:
    """Exact distinct-shingle Jaccard for a GIVEN candidate-pair set —
    the verify stage after any approximate candidate generator (MinHash
    bands, SimHash buckets, capped AllPairs). Cost is proportional to the
    candidate set, not n²: candidates join to their two shingle lists
    only. ``pairs`` needs (id_a, id_b) columns; pairs sharing no shingle
    drop out (their jaccard is 0)."""
    toks = df.withColumn("__toks", tokenize_column(F.col(text_col)))
    sh = toks.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_of(F.col("__toks"), shingle_n))
        ).alias("s"),
    ).withColumn("sh", F.xxhash64("s")).drop("s")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "sh")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "sh")
    shared = (
        pairs.select("id_a", "id_b")
        .join(sh_a, "id_a").join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared"))
    )
    # sizes is corpus-cardinality (one row per doc) — never broadcast it
    # (a 10^9-doc corpus would be a multi-GB broadcast). Plain shuffle
    # joins keyed on the candidate ids; AQE may still choose broadcast
    # when the corpus is actually small.
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")))
        .select("id_a", "id_b", "jaccard")
    )


def md5_token_hash(tok):
    """60-bit token hash from the first 15 hex chars of md5. Slower than
    xxhash64 but byte-identical in DuckDB
    (``('0x' || substr(md5(tok), 1, 15))::UBIGINT``), which lets the
    driver oracle replicate the FULL simhash pipeline in SQL."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def minhash_band_candidates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n_hashes: int = 64,
                            bands: int = 16, shingle_n: int = 3,
                            seed: int = 42) -> DataFrame:
    """Candidate pairs from MinHash banding ONLY — distinct
    ``(id_a, id_b)``, no signatures carried through the pair shuffle.

    Use when candidates feed an exact verifier
    (:func:`exact_jaccard_for_pairs`): the signature-agreement estimate
    is redundant there, and dropping the two length-``n_hashes`` arrays
    from the self-join output shrinks the shuffled candidate rows from
    ~1 KB to 16 bytes — the difference between a bench-killing stage and
    a cheap one on dup-heavy corpora where candidates are quadratic in
    cluster size."""
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n, seed)
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.xxhash64(
                    F.concat_ws(
                        ",", F.slice("signature",
                                     bnd * rows_per_band + 1, rows_per_band)
                    ),
                    bnd,
                ),
            )
        ).alias("band_key"),
    )
    left = banded.select("band_key", F.col(id_col).alias("id_a"))
    right = banded.select("band_key", F.col(id_col).alias("id_b"))
    return (
        left.join(right, "band_key")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", hash_expr=None,
            n_bits: int = 64) -> DataFrame:
    """``n_bits``-wide SimHash fingerprint per doc: token hashes JVM-side
    (``hash_expr``: token column → long column; default xxhash64 in
    ``transform`` — deterministic), then a numeric pandas UDF sums ±1 per
    bit (tf-weighted via hash multiplicity), sign → bit."""
    nb = n_bits

    @F.pandas_udf(T.LongType())
    def fp(token_hashes: pd.Series) -> pd.Series:
        # batch-vectorized: flatten all docs' token hashes, expand to a
        # (total_tokens, n_bits) ±1 bit matrix, per-doc column sums via
        # add.reduceat, sign -> bit (no per-row Python)
        lens = token_hashes.map(
            lambda x: 0 if x is None else len(x)).to_numpy(dtype=np.int64)
        out = np.zeros(lens.size, dtype=np.int64)
        nz = np.flatnonzero(lens)
        if nz.size:
            flat = np.concatenate(
                [np.asarray(token_hashes.iloc[i], dtype=np.int64) for i in nz]
            ).astype(np.uint64)
            shifts = np.arange(nb, dtype=np.uint64)
            bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1))
            pm = bits.astype(np.int64) * 2 - 1          # {0,1} -> {-1,+1}
            starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
            v = np.add.reduceat(pm, starts, axis=0)     # (n_docs, n_bits)
            words = np.bitwise_or.reduce(
                (v > 0).astype(np.uint64) << shifts[None, :], axis=1)
            out[nz] = words.astype(np.int64)
        return pd.Series(out)

    hash_expr = hash_expr or (lambda t: F.xxhash64(t))
    token_hashes = F.transform(tokenize_column(F.col(text_col)), hash_expr)
    return df.select(id_col, fp(token_hashes).alias("simhash"))


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_hamming: int = 3, hash_expr=None,
                           n_bits: int = 64) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: 4 bands of n_bits/4 bits — any pair within
    Hamming ≤ 3 agrees exactly on ≥1 band; candidate pairs come from
    band-equality groupBys, verified with bit_count(xor)."""
    fps = simhash(df, text_col, id_col, hash_expr, n_bits)
    bw = n_bits // 4
    mask = (1 << bw) - 1
    bands = [
        F.shiftrightunsigned("simhash", bw * i).bitwiseAND(F.lit(mask))
        .alias(f"b{i}")
        for i in range(4)
    ]
    banded = fps.select(id_col, "simhash", *bands)
    out = None
    for i in range(4):
        l = banded.select(F.col(f"b{i}").alias("k"),
                          F.col(id_col).alias("id_a"),
                          F.col("simhash").alias("h_a"))
        r = banded.select(F.col(f"b{i}").alias("k"),
                          F.col(id_col).alias("id_b"),
                          F.col("simhash").alias("h_b"))
        cand = l.join(r, "k").where(F.col("id_a") < F.col("id_b")).drop("k")
        out = cand if out is None else out.unionByName(cand)
    return (
        out.dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the verification-grade path).

    Two exact strategies, dispatched on the threshold:

    - ``threshold ≥ 0.7`` → **prefix filtering** (AllPairs/PPJoin family,
      public algorithm): sort each doc's distinct shingles by global
      rarity (ascending df); a pair with Jaccard ≥ t must share at least
      one shingle among each side's first ``⌊(1−t)·|A|⌋ + 1`` rarest
      shingles, so the candidate self-join runs only on those short
      prefixes before exact verification.
    - lower thresholds → plain co-occurrence join + count (the prefix is
      no longer short, and on dup-heavy corpora the candidate set
      approaches the result set anyway, so the extra verify join only
      adds traffic).

    ``max_df`` (hot-shingle cap, low-threshold path only): a shingle
    appearing in d documents contributes d·(d−1)/2 candidate pairs, so
    one boilerplate shingle in 10⁶ docs is 10¹² pairs — quadratic
    blowup. With ``max_df`` set, shingles with document frequency
    > max_df are excluded from CANDIDATE GENERATION only (standard
    AllPairs practice); surviving candidates are then exact-verified
    against the FULL shingle sets, so reported jaccard values are exact
    and no false positives are introduced. The only approximation: a
    pair every one of whose shared shingles is hotter than max_df is
    missed. Default ``None`` = exact (no cap) — at 100 TB set it (or use
    :func:`minhash_lsh_pairs`, the honest scale path below t≈0.7).

    All join keys are xxhash64 digests of shingles, never raw text.
    """
    toks = df.withColumn("__toks", tokenize_column(F.col(text_col)))
    sh = toks.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_of(F.col("__toks"), shingle_n))
        ).alias("s"),
    ).withColumn("sh", F.xxhash64("s")).drop("s")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    if threshold >= 0.7:
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            sh.join(dfreq, "sh")
            .withColumn("rn", F.row_number().over(
                Window.partitionBy(id_col).orderBy("df", "sh")))
            .join(sizes, id_col)
        )
        prefix = ranked.where(
            F.col("rn") <= F.floor((1.0 - threshold) * F.col("n_sh")) + 1
        ).select(id_col, "sh")
        a = prefix.select(F.col(id_col).alias("id_a"), "sh")
        b = prefix.select(F.col(id_col).alias("id_b"), "sh")
        cand = (
            a.join(b, "sh").where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
        )
        sh_a = sh.select(F.col(id_col).alias("id_a"), "sh")
        sh_b = sh.select(F.col(id_col).alias("id_b"), "sh")
        shared = (
            cand.join(sh_a, "id_a").join(sh_b, ["id_b", "sh"])
            .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared"))
        )
    else:
        cand_sh = sh
        if max_df is not None:
            dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            cand_sh = (
                sh.join(dfreq.where(F.col("df") <= max_df), "sh",
                        "left_semi")
            )
        a = cand_sh.select(F.col(id_col).alias("id_a"), "sh")
        b = cand_sh.select(F.col(id_col).alias("id_b"), "sh")
        if max_df is None:
            shared = (
                a.join(b, "sh").where(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared"))
            )
        else:
            # capped candidates, then EXACT shared counts over the full
            # (uncapped) shingle sets — jaccard values stay exact
            cand = (
                a.join(b, "sh").where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
            )
            sh_a = sh.select(F.col(id_col).alias("id_a"), "sh")
            sh_b = sh.select(F.col(id_col).alias("id_b"), "sh")
            shared = (
                cand.join(sh_a, "id_a").join(sh_b, ["id_b", "sh"])
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("shared"))
            )

    # per-doc sizes: plain joins, not broadcast — see exact_jaccard_for_pairs
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard",
                    F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# near-duplicate clustering: connected components over candidate pairs
# --------------------------------------------------------------------------

def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iters: int = 25) -> DataFrame:
    """Connected components of an undirected pair set -> ``(doc_id,
    cluster_id)`` with cluster_id = the component's MINIMUM id. Nodes
    appearing in no pair are absent (see :func:`dedup_clusters` for the
    all-docs labeling).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): converges in
    O(log² n) rounds INDEPENDENT of component diameter — plain label
    propagation needs diameter-many rounds, which a 10^12-doc chain of
    near-duplicate pages makes unbounded. Each half-round is one
    map-side-combinable groupBy (per-node min) + one join on the edge
    set; edges monotonically contract toward the star forest and the
    loop exits on a checksummed fixed point, not a diameter guess. The
    driver only ever sees a 2-value checksum per round.
    """
    e = (
        pairs.select(F.col(id_a).cast("long").alias("u"),
                     F.col(id_b).cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        """Connect every neighbor v > u to min(Γ(u) ∪ {u})."""
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        m = (sym.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least(F.col("u"), F.col("mn")).alias("m")))
        return (sym.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct())

    def small_star(e: DataFrame) -> DataFrame:
        """Point every smaller neighbor (and u itself) at the minimum
        of u's smaller neighborhood."""
        dir_ = e.select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
        m = dir_.groupBy("u").agg(F.min("v").alias("m"))
        return (dir_.join(m, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(m.select("u", F.col("m").alias("v")))
                .where(F.col("u") != F.col("v"))
                .distinct())

    prev_chk = None
    for _ in range(max_iters):
        # localCheckpoint TRUNCATES the lineage: without it each round
        # nests the previous plan (exponential logical-plan growth —
        # the classic iterative-algorithm driver OOM). On a cluster a
        # reliable checkpoint dir gives the same cut with fault
        # tolerance; the algorithm is unchanged.
        e = small_star(large_star(e)).localCheckpoint(eager=True)
        # xor-fold the edge hashes: order-independent and overflow-free
        # (ANSI mode makes a plain sum of int64 hashes throw)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h")).collect()[0]
        chk = (int(row["n"] or 0), int(row["h"] or 0))
        if chk == prev_chk:
            break
        prev_chk = chk
    # fixed point: e is a star forest u -> root
    roots = e.select(F.col("v").alias("doc_id"),
                     F.col("v").alias("cluster_id")).distinct()
    members = e.select(F.col("u").alias("doc_id"),
                       F.col("v").alias("cluster_id"))
    out = members.union(roots).distinct()
    return out


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", id_a: str = "id_a",
                   id_b: str = "id_b", max_iters: int = 25) -> DataFrame:
    """Near-duplicate CLUSTER labeling for every doc: ``(doc_id,
    cluster_id, is_canonical)`` where cluster_id = min id of the doc's
    connected component over ``pairs`` (its own id when it has no
    near-dup), and the canonical survivor is the cluster minimum — the
    same keep-first tie law as ``dedup_keep_first``/``cleanup_duplicates``.
    This is the standard last stage of a corpus dedup pipeline: candidate
    pairs (MinHash/SimHash/embedding) -> components -> keep one doc per
    cluster."""
    cc = connected_components(pairs, id_a, id_b, max_iters)
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(cc, "doc_id", "left")
        .select("doc_id",
                F.coalesce("cluster_id", F.col("doc_id"))
                .alias("cluster_id"))
        .withColumn("is_canonical",
                    (F.col("doc_id") == F.col("cluster_id")).cast("int"))
    )
