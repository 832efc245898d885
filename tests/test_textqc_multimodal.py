"""Text QC + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prow_jobs_scraper_spark.operators import multimodal as M
from prow_jobs_scraper_spark.operators import textqc as Q


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog and it is fine."),
        (1, "der hund und die katze sind nicht da, das ist ein problem"),
        (2, "le chat et le chien sont dans la maison et pas dehors"),
        (3, "!!! ??? ..."),
        (4, ""),
        (5, "spam spam spam spam spam spam spam spam"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(texts):
    got = {r["doc_id"]: r for r in Q.token_count(texts).collect()}
    assert got[0]["n_ws_tokens"] == 13
    assert got[0]["n_tokens"] == 13
    assert got[3]["n_tokens"] == 0
    assert got[4]["n_ws_tokens"] == 0


def test_language_id(texts):
    got = {r["doc_id"]: r["lang_pred"] for r in Q.language_id(texts).collect()}
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr"
    assert got[3] == "und"


def test_quality_score_ordering(texts):
    got = {r["doc_id"]: r for r in Q.quality_score(texts).collect()}
    assert got[0]["quality_score"] > got[5]["quality_score"] > 0
    assert got[3]["quality_score"] < 0.3
    assert got[5]["distinct_ratio"] == pytest.approx(1 / 8)
    assert 0 <= got[0]["stopword_ratio"] <= 1


def test_pii_scrub_matches_duckdb(spark):
    """Counts + masked text replicate exactly in DuckDB with the same
    regexes (the patterns stay inside the Java/RE2 shared subset), and
    the category ORDER holds: an email inside a URL userinfo is counted
    as an email first; a bare IP inside a URL is a URL, not an IP."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4, 5, 6],
        "text": [
            "write bob@x.co or visit https://a.b/c?d=1 now",
            "server 10.0.0.1 and 255.1.2.3, call 555-123-4567",
            "mail a.b+c@my-host.org via http://10.1.1.1/path x",
            "",
            None,
            # round-5 phone formats: parens / dots / +1; bare 10-digit
            # stays unmatched (documented false-positive boundary)
            "call (555) 123-4567 or +1 555.987.6543 maybe 555 111 2222",
            "ticket 5551234567 stays, but 555-123-4567 masks",
        ],
    })
    got = (Q.pii_scrub(spark.createDataFrame(pdf))
           .orderBy("doc_id").toPandas())
    assert got.loc[2, "n_emails"] == 1 and got.loc[2, "n_urls"] == 1
    assert got.loc[2, "n_ipv4s"] == 0  # the IP is inside the URL mask
    assert got.loc[5, "n_phones"] == 3  # (NNN) / +1 dots / spaces
    assert got.loc[6, "n_phones"] == 1  # bare 10-digit run unmatched
    assert "5551234567" in got.loc[6, "text_scrubbed"]
    con = duckdb.connect()
    con.register("t", pdf)
    sql = "SELECT doc_id, coalesce(text, '') AS s FROM t"
    for _, pat, mask in Q.PII_PATTERNS:
        sql = (f"SELECT doc_id, regexp_replace(s, '{pat}', '{mask}', 'g')"
               f" AS s FROM ({sql})")
    want = con.sql(f"SELECT s FROM ({sql}) ORDER BY doc_id").df()
    assert got["text_scrubbed"].tolist() == want["s"].tolist()


def test_span_dedup_cross_and_intra_doc(spark, transcripts):
    """Span-level exact dedup vs a full DuckDB replica on the synthetic
    transcript corpus UNION a shifted copy of its first conversations —
    copied docs must lose every chunk to keep-first, intra-doc repeats
    count too, and the rebuilt text matches string-for-string."""
    import duckdb

    from prow_jobs_scraper_spark.index.build import with_doc_ids

    docs = with_doc_ids(transcripts).select("doc_id", "text")
    copies = (docs.where(F.col("doc_id") % 17 == 0)
              .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                      "text"))
    corpus = docs.unionByName(copies)
    got = (Q.span_dedup(corpus, chunk_tokens=10)
           .orderBy("doc_id").toPandas())

    con = duckdb.connect()
    con.register("c", corpus.toPandas())
    want = con.sql(r"""
        WITH toks AS (SELECT doc_id,
                             regexp_extract_all(lower(text), '[a-z0-9_]+')
                               AS t FROM c),
        nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        ch AS (SELECT doc_id, (start / 10)::BIGINT AS chunk_idx,
                      array_to_string(t[start+1 : start+10], ' ') AS chunk
               FROM (SELECT doc_id, t,
                            unnest(range(0, n, 10)) AS start FROM nz)),
        rk AS (SELECT doc_id, chunk_idx, chunk,
                      row_number() OVER (PARTITION BY chunk
                                         ORDER BY doc_id, chunk_idx) AS rn
               FROM ch)
        SELECT doc_id, count(*) AS n_chunks,
               sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT
                 AS n_dup_chunks,
               coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                                   ORDER BY chunk_idx), '')
                 AS text_deduped
        FROM rk GROUP BY doc_id ORDER BY doc_id
    """).df()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["n_chunks"].tolist() == want["n_chunks"].astype(int).tolist()
    assert (got["n_dup_chunks"].tolist()
            == want["n_dup_chunks"].astype(int).tolist())
    assert got["text_deduped"].tolist() == want["text_deduped"].tolist()
    # duplicated chunks exist (the copies guarantee them; doc_ids are
    # HASHES, so which side of an original/copy pair wins keep-first is
    # arbitrary — the invariant is each distinct chunk kept exactly
    # once: dups == total chunks - distinct chunks
    n_distinct = con.sql("""
        SELECT count(DISTINCT array_to_string(t[s+1 : s+10], ' '))
        FROM (SELECT t, unnest(range(0, len(t), 10)) AS s
              FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9_]+')
                      AS t FROM c) WHERE len(t) > 0)
    """).fetchone()[0]
    assert int(got["n_dup_chunks"].sum()) == int(
        got["n_chunks"].sum() - n_distinct) > 0


def test_fingerprint_deterministic_and_dup_sensitive(spark):
    rows = [(0, "a b c d e f g"), (1, "a b c d e f g"), (2, "x y z w q r s")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["fingerprint"] for r in Q.fingerprint(df).collect()}
    assert got[0] == got[1] != got[2]
    # stable across recomputation (deterministic across executors)
    again = {r["doc_id"]: r["fingerprint"] for r in Q.fingerprint(df).collect()}
    assert got == again


def test_media_features_shape(spark):
    media = M.synth_media(spark, n=12)
    out = M.extract_features(media).collect()
    assert len(out) == 12
    for r in out:
        assert len(r["feat"]) == 8 and r["n_bytes"] >= 64


def test_media_decode_stub_raises_without_fake(spark):
    media = M.synth_media(spark, n=3)
    with pytest.raises(Exception):  # NotImplementedError inside executor
        M.extract_features(media, deterministic_fake=False).collect()


def test_resize_shapes(spark):
    media = M.synth_media(spark, n=9)
    out = M.resize_images(media, 8, 6).collect()
    n_images = media.where("kind = 'image'").count()
    assert len(out) == n_images
    for r in out:
        assert len(r["payload"]) == 8 * 6 * 3


def test_frame_sampling(spark):
    media = M.synth_media(spark, n=9)
    out = M.sample_frames(media, every_n=2)
    pdf = out.toPandas()
    vids = media.where("kind='video'").select("media_id", "meta.n_frames").collect()
    want = sum(len(range(0, r["n_frames"], 2)) for r in vids)
    assert len(pdf) == want
    assert (pdf["frame_idx"] % 2 == 0).all()


def test_media_from_docs_total_over_negative_ids(spark):
    # engine doc ids are xxhash64 — negative about half the time. The
    # kind/meta mapping must be total (pmod, not signed %): every id
    # maps, no 'array index 0' runtime error, meta dims stay positive.
    from prow_jobs_scraper_spark.operators.multimodal import media_from_docs

    docs = spark.createDataFrame(
        [(-1, "a"), (-2, "b"), (-3, "c"), (0, "d"), (5, "e"),
         (-(1 << 62), "f")],
        "doc_id long, text string")
    out = media_from_docs(docs).collect()
    assert len(out) == 6
    kinds = {r["media_id"]: r["kind"] for r in out}
    assert kinds[-1] == "video" and kinds[-2] == "audio"  # pmod(-1,3)=2
    for r in out:
        assert r["kind"] in ("image", "audio", "video")
        assert r["meta"]["width"] >= 4 and r["meta"]["height"] >= 4
        assert r["meta"]["n_frames"] >= 1


# ---- real netpbm decode (round 4): the image path decodes TRUE pixels

def test_ppm_roundtrip_and_variants():
    import numpy as np

    from prow_jobs_scraper_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    img = np.random.default_rng(3).integers(0, 256, (6, 9, 3),
                                            dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()
    # comments + arbitrary whitespace in the header (netpbm spec)
    p5 = b"P5 # c1\n# c2\n 3\t2 \n255\n" + bytes(range(6))
    g = decode_ppm(p5)
    assert g.shape == (2, 3, 3)
    assert (g[:, :, 0] == g[:, :, 2]).all()  # gray replicated
    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n3 2\n255\n" + b"\0" * 5)  # truncated raster
    with _pytest.raises(ValueError):
        decode_ppm(b"JFIF....")


def test_png_roundtrip_all_filters_and_variants(spark):
    """PNG decode (round 5, pure stdlib zlib + numpy, public spec):
    encode->decode round-trips exactly under EVERY scanline filter
    type; gray/RGBA/gray-alpha color types map to (h, w, 3);
    unsupported shapes fail loud; decode_image dispatches by
    signature; extract_features pools true PNG pixels."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from prow_jobs_scraper_spark.operators.multimodal import (
        _PNG_SIG,
        decode_image,
        decode_png,
        encode_png,
        extract_features,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    for ft in range(5):
        got = decode_png(encode_png(img, filter_type=ft))
        assert (got == img).all(), f"filter {ft}"

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    def png(w, h, ctype, channels, pixels):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
        return (_PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    # grayscale replicates across channels
    g = rng.integers(0, 256, (3, 4, 1), dtype=np.uint8)
    got = decode_png(png(4, 3, 0, 1, g))
    assert got.shape == (3, 4, 3) and (got[:, :, 0] == g[:, :, 0]).all()
    assert (got[:, :, 1] == got[:, :, 2]).all()
    # RGBA drops alpha
    a = rng.integers(0, 256, (3, 4, 4), dtype=np.uint8)
    got = decode_png(png(4, 3, 6, 4, a))
    assert (got == a[:, :, :3]).all()
    # gray+alpha replicates the gray plane
    ga = rng.integers(0, 256, (2, 3, 2), dtype=np.uint8)
    got = decode_png(png(3, 2, 4, 2, ga))
    assert (got[:, :, 0] == ga[:, :, 0]).all()

    with _pytest.raises(ValueError):  # interlaced
        bad = struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 1)
        decode_png(_PNG_SIG + chunk(b"IHDR", bad)
                   + chunk(b"IDAT", zlib.compress(b"\x00" * 39))
                   + chunk(b"IEND", b""))
    with _pytest.raises(ValueError):  # palette color type
        bad = struct.pack(">IIBBBBB", 4, 3, 8, 3, 0, 0, 0)
        decode_png(_PNG_SIG + chunk(b"IHDR", bad)
                   + chunk(b"IDAT", zlib.compress(b"\x00" * 15))
                   + chunk(b"IEND", b""))
    with _pytest.raises(ValueError):
        decode_png(b"not a png")
    # corrupt innards surface as ValueError too (the contract the
    # fake-mode fallback keys on), never zlib.error / struct.error
    ihdr_ok = struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0)
    bad_idat = (_PNG_SIG + chunk(b"IHDR", ihdr_ok)
                + chunk(b"IDAT", b"\xff\xfe\xfd\xfc")
                + chunk(b"IEND", b""))
    short_ihdr = (_PNG_SIG + chunk(b"IHDR", b"\x00\x01\x02")
                  + chunk(b"IDAT", zlib.compress(b"\x00" * 39))
                  + chunk(b"IEND", b""))
    for corrupt in (bad_idat, short_ihdr):
        with _pytest.raises(ValueError):
            decode_png(corrupt)
        # and a PNG-signature lookalike in fake mode falls back to the
        # deterministic stub instead of crashing the Spark task
        fake = decode_image(corrupt, 4, 3, deterministic_fake=True)
        assert fake.shape == (3, 4, 3) and fake.dtype == np.uint8

    # dispatch + real features through the Arrow pipeline: channel
    # means of the decoded tensor match numpy exactly
    assert (decode_image(encode_png(img, 4), 1, 1) == img).all()
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_png(img, filter_type=2)),
          (5, 7, None, None))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, "
        "n_frames:int>")
    feat = extract_features(media, deterministic_fake=False).first()
    v = img.reshape(-1, 3).astype(np.float64)
    np.testing.assert_allclose(
        feat["feat"][:3], v.mean(axis=0).astype(np.float32), rtol=1e-6)


def test_wav_roundtrip_and_real_audio_features(spark):
    """RIFF/WAVE PCM decode (round 5, pure numpy, public spec):
    encode->decode round-trips exactly; 8-bit and stereo parse; the
    Arrow feature path emits REAL duration/RMS/peak/ZCR matching
    closed-form numpy; non-PCM WAVE fails loud."""
    import numpy as np
    import pytest as _pt

    from prow_jobs_scraper_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_feature_vector,
        decode_wav,
        encode_wav,
        extract_features,
    )

    rng = np.random.default_rng(3)
    s16 = rng.integers(-32768, 32768, size=500, dtype=np.int16)
    payload = encode_wav(s16, sample_rate=8000)
    dec, sr = decode_wav(payload)
    assert sr == 8000 and dec.shape == (500, 1)
    np.testing.assert_array_equal(
        (dec[:, 0] * 32768.0).astype(np.int16), s16)

    # stereo: interleaved frames come back as (n_frames, 2)
    st = np.stack([s16[:100], -s16[:100]], axis=1).reshape(-1)
    dec2, _ = decode_wav(encode_wav(st, 16000, n_channels=2))
    assert dec2.shape == (100, 2)
    np.testing.assert_array_equal(
        (dec2[:, 1] * 32768.0).astype(np.int16), -s16[:100])

    # 8-bit unsigned per spec
    import struct
    s8 = rng.integers(0, 256, size=64, dtype=np.uint8)
    hdr = (b"RIFF" + struct.pack("<I", 36 + 64) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
           + b"data" + struct.pack("<I", 64))
    dec3, sr3 = decode_wav(hdr + s8.tobytes())
    assert sr3 == 8000
    np.testing.assert_allclose(dec3[:, 0], (s8 - 128.0) / 128.0)

    # closed-form feature identity
    f = audio_feature_vector(payload)
    mono = s16.astype(np.float64) / 32768.0
    np.testing.assert_allclose(f[0], 500 / 8000, rtol=1e-6)
    np.testing.assert_allclose(f[1], np.sqrt((mono ** 2).mean()),
                               rtol=1e-6)
    np.testing.assert_allclose(f[2], np.abs(mono).max(), rtol=1e-6)

    # the Arrow batch path routes RIFF payloads through the real
    # decoder (strict mode — no deterministic_fake needed for audio)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(payload),
          {"width": 0, "height": 0, "sample_rate": 8000, "n_frames": 1})],
        MEDIA_SCHEMA)
    got = extract_features(media, deterministic_fake=False).toPandas()
    np.testing.assert_allclose(got["feat"][0][:3], f[:3], rtol=1e-6)

    # fail-loud boundary: IEEE-float WAVE (format 3) is a codec we
    # don't decode
    bad = bytearray(payload)
    bad[20] = 3
    with _pt.raises(ValueError, match="integer PCM"):
        decode_wav(bytes(bad))
    with _pt.raises(ValueError, match="RIFF"):
        decode_wav(b"NOT A WAVE FILE AT ALL......")


def test_extract_features_real_pixels(spark):
    """synth_media image rows now carry REAL binary PPM payloads: the
    Spark feature op must reproduce the numpy mean/std of the true
    pixels — no stub in the image path."""
    import numpy as np

    from prow_jobs_scraper_spark.operators.multimodal import (
        decode_ppm,
        extract_features,
        synth_media,
    )

    media = synth_media(spark, n=12, seed=11)
    rows = {r["media_id"]: r for r in media.collect()}
    got = {r["media_id"]: r for r in
           extract_features(media, deterministic_fake=True).collect()}
    n_img = 0
    for mid, r in rows.items():
        if r["kind"] != "image":
            continue
        n_img += 1
        img = decode_ppm(bytes(r["payload"]))
        v = img.reshape(-1, 3).astype(np.float64)
        want = np.concatenate([v.mean(axis=0), v.std(axis=0),
                               [v.min(), v.max()]])[:8]
        np.testing.assert_allclose(got[mid]["feat"], want, rtol=1e-6)
    assert n_img >= 4


def test_resize_uses_header_dims(spark):
    import numpy as np

    from prow_jobs_scraper_spark.operators.multimodal import (
        decode_ppm,
        resize_images,
        synth_media,
    )

    media = synth_media(spark, n=9, seed=5)
    out = {r["media_id"]: r for r in
           resize_images(media, 4, 4).collect()}
    src = {r["media_id"]: r for r in media.collect()
           if r["kind"] == "image"}
    for mid, r in src.items():
        img = decode_ppm(bytes(r["payload"]))
        h, w = img.shape[:2]
        yi = np.arange(4) * h // 4
        xi = np.arange(4) * w // 4
        want = img[yi][:, xi].tobytes()
        assert bytes(out[mid]["payload"]) == want, mid


# ---------------------------------------------------------------------------
# Gopher repetition stats + benchmark contamination (round 5)
# ---------------------------------------------------------------------------

def _py_repetition(text: str | None):
    """Independent pure-Python replay of repetition_stats' definitions."""
    import re
    from collections import Counter

    text = text or ""
    toks = re.findall(r"[a-z0-9_]+", text.lower())
    out = {}

    def dup_fracs(items):
        if not items:
            return 0.0, 0.0
        cnt, dcnt = len(items), len(set(items))
        chars = sum(len(x) for x in items)
        dchars = sum(len(x) for x in set(items))
        return (cnt - dcnt) / cnt, (chars - dchars) / chars if chars else 0.0

    lines = [x for x in text.split("\n") if x.strip()]
    paras = [x for x in re.split(r"\n\n+", text) if x.strip()]
    out["n_lines"] = len(lines)
    out["dup_line_frac"], out["dup_line_char_frac"] = dup_fracs(lines)
    out["dup_para_frac"], out["dup_para_char_frac"] = dup_fracs(paras)

    for n in (2, 3, 4):
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        if not grams or not text:
            out[f"top_{n}gram_char_frac"] = 0.0
            continue
        c = Counter(grams)
        best_cnt = max(c.values())
        best = max(g for g, k in c.items() if k == best_cnt)
        out[f"top_{n}gram_char_frac"] = best_cnt * len(best) / len(text)

    for n in (5, 10):
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        if not grams:
            out[f"dup_{n}gram_frac"] = 0.0
            continue
        c = Counter(grams)
        dup = sum(k for k in c.values() if k >= 2)
        out[f"dup_{n}gram_frac"] = dup / len(grams)
    return out


def test_repetition_stats_python_oracle(spark):
    rows = [
        (0, "a b c\na b c\nx y z"),
        (1, "one two one two one two one two"),
        (2, None),
        (3, ""),
        (4, "p q r s t u v w\n\np q r s t u v w"),
        (5, "a b c d e a b c d e a b c d e f g h i j"),
        (6, "solo"),
        (7, "line one\nline two\nline one\n\n\npara two\n\npara two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in Q.repetition_stats(df).collect()}
    for doc_id, text in rows:
        want = _py_repetition(text)
        for k, v in want.items():
            assert got[doc_id][k] == pytest.approx(v), (doc_id, k)


def test_repetition_stats_on_corpus_sample(spark, transcripts):
    """Every frac stays in a sane range on real-ish text and the
    spam-heavy doc ranks above the clean doc on 2-gram coverage."""
    df = transcripts.limit(200).select(
        F.col("conv_id").alias("doc_id"), "text")
    rows = Q.repetition_stats(df).collect()
    assert rows
    for r in rows:
        for k in ("dup_line_frac", "dup_line_char_frac", "dup_para_frac",
                  "dup_para_char_frac", "dup_5gram_frac", "dup_10gram_frac"):
            assert 0.0 <= r[k] <= 1.0, (r["doc_id"], k, r[k])
        assert r["top_2gram_char_frac"] >= 0.0


def test_contamination_check_python_oracle(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "one two three four five six seven eight nine"),
        (2, None),
        (3, "one two three four five"),
        (4, "completely novel words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench_rows = [("one two three four five six",),
                  ("alpha beta gamma delta epsilon",)]
    bench = spark.createDataFrame(bench_rows, "text string")
    got = {r["doc_id"]: r.asDict()
           for r in Q.contamination_check(df, bench, n=5).collect()}

    import re

    def grams(t, n=5):
        toks = re.findall(r"[a-z0-9_]+", (t or "").lower())
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    bench_set = set()
    for (t,) in bench_rows:
        bench_set.update(grams(t))
    for doc_id, text in rows:
        g = grams(text)
        hits = sum(1 for x in g if x in bench_set)
        r = got[doc_id]
        assert r["n_grams"] == len(g), doc_id
        assert r["n_contaminated"] == hits, doc_id
        assert r["is_contaminated"] == (hits > 0), doc_id
        want_frac = hits / len(g) if g else 0.0
        assert r["contaminated_frac"] == pytest.approx(want_frac), doc_id


def test_contamination_broadcast_plan(spark):
    """The benchmark side must broadcast: the corpus never shuffles for
    the join (only the per-doc re-agg exchanges doc-sized rows)."""
    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j k l m n")], "doc_id long, text string")
    bench = spark.createDataFrame([("a b c d e f g h i j k l m",)],
                                  "text string")
    plan = Q.contamination_check(df, bench)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
