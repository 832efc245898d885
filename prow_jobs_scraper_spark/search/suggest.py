"""ES term + phrase suggesters ("did you mean") — spell-correction
candidates from the corpus vocabulary, and whole-phrase corrections
from a noisy-channel n-gram model (:func:`suggest_phrase`).

Reference surface: the ES ``suggest`` request block with a ``term``
suggester per entry (the reference's OpenSearch cluster exposes it on
every index; the engine covers the request shape its clients would
send). Grammar::

    {"suggest": {<name>: {"text": str,
                          "term": {"field": field,
                                   "size": int,              -- 5
                                   "sort": "score"|"frequency",
                                   "suggest_mode":
                                       "missing"|"popular"|"always",
                                   "max_edits": 1|2,         -- 2
                                   "prefix_length": int,     -- 1
                                   "min_word_length": int,   -- 4
                                   "min_doc_freq": int}}}}   -- 1

Semantics (the Lucene DirectSpellChecker rules, with documented
deviations):

- The text analyzes through the engine tokenizer; each DISTINCT token
  becomes one suggestion group (ES emits one entry per token
  occurrence with offsets — collapsed here, offsets are meaningless
  on the engine's side of the wire).
- Candidates are vocabulary terms (distinct corpus tokens / the index
  terms dim) within ``max_edits`` Levenshtein of the token, sharing
  its first ``prefix_length`` characters, different from it, with
  ``df >= min_doc_freq``. Tokens shorter than ``min_word_length``
  produce no suggestions. ``suggest_mode``: ``missing`` suggests only
  for tokens absent from the vocabulary (the ES default), ``popular``
  only candidates strictly more frequent than the token, ``always``
  unconditionally.
- Score = ``1 - distance / min(len(token), len(candidate))`` — the
  Lucene LevensteinDistance similarity. ``sort: score`` orders by
  (score desc, df desc, term asc); ``sort: frequency`` by (df desc,
  score desc, term asc); ``size`` cuts per token. The term-asc
  tiebreak is a determinism deviation from ES's internal ordering.

Scale: candidate generation is VOCABULARY-sized (distinct tokens /
terms dim — index metadata), never corpus-sized; length + prefix
bounds prune before the Levenshtein; the per-token rank is a window
over candidate rows only. The naive path pays one corpus scan for
(term, df); the indexed path reads the terms dim and resolves df for
the few survivors through the segment handles' df cache.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from prow_jobs_scraper_spark.functions.tokenize import (
    tokenize_column,
    tokenize_text,
)
from prow_jobs_scraper_spark.search.dsl import DslError

_TERM_KEYS = {"field", "size", "sort", "suggest_mode", "max_edits",
              "prefix_length", "min_word_length", "min_doc_freq"}

_SUGG_SCHEMA = StructType([
    StructField("sugg", StringType()),
    StructField("pos", LongType()),
    StructField("token", StringType()),
])


def _parse_term_suggester(name: str, body: dict):
    """One named suggest entry -> (name, tokens, options dict)."""
    if not isinstance(body, dict):
        raise DslError(f"bad suggest entry {name!r}: {body!r}")
    unknown = set(body) - {"text", "term"}
    if unknown:
        raise DslError(
            f"unsupported suggest keys in {name!r}: {sorted(unknown)} "
            f"(term suggester here; phrase via suggest_phrase; "
            f"completion is out of grammar)")
    if "term" not in body or not isinstance(body["term"], dict):
        raise DslError(f"suggest entry {name!r} needs a term block")
    if "text" not in body or not isinstance(body["text"], str):
        raise DslError(f"suggest entry {name!r} needs text")
    term = body["term"]
    unknown = set(term) - _TERM_KEYS
    if unknown:
        raise DslError(
            f"unsupported term suggester options in {name!r}: "
            f"{sorted(unknown)}")
    if "field" not in term or not isinstance(term["field"], str):
        raise DslError(f"term suggester {name!r} needs a field")
    opts = {
        "field": term["field"],
        "size": term.get("size", 5),
        "sort": term.get("sort", "score"),
        "suggest_mode": term.get("suggest_mode", "missing"),
        "max_edits": term.get("max_edits", 2),
        "prefix_length": term.get("prefix_length", 1),
        "min_word_length": term.get("min_word_length", 4),
        "min_doc_freq": term.get("min_doc_freq", 1),
    }
    for k, lo, hi in (("size", 1, None), ("max_edits", 1, 2),
                      ("prefix_length", 0, None),
                      ("min_word_length", 1, None),
                      ("min_doc_freq", 1, None)):
        v = opts[k]
        if isinstance(v, bool) or not isinstance(v, int) or v < lo \
                or (hi is not None and v > hi):
            raise DslError(
                f"{k} must be an int in "
                f"[{lo}, {hi if hi is not None else 'inf'}], got {v!r}")
    if opts["sort"] not in ("score", "frequency"):
        raise DslError(f"sort must be score|frequency, got "
                       f"{opts['sort']!r}")
    if opts["suggest_mode"] not in ("missing", "popular", "always"):
        raise DslError(
            f"suggest_mode must be missing|popular|always, got "
            f"{opts['suggest_mode']!r}")
    toks = tokenize_text(body["text"])
    if not toks:
        raise DslError(f"suggest entry {name!r} text must analyze to "
                       f"at least one term")
    return name, toks, opts


def parse_suggest(request: dict) -> list:
    """The ES ``{"suggest": {...}}`` envelope (or the bare inner dict)
    -> [(name, tokens, opts), ...] in insertion order."""
    if not isinstance(request, dict) or not request:
        raise DslError("suggest request must be a non-empty dict")
    body = request.get("suggest", request)
    if not isinstance(body, dict) or not body:
        raise DslError("suggest request must be a non-empty dict")
    return [_parse_term_suggester(n, b) for n, b in body.items()]


def _token_frame(spark: SparkSession, entries) -> DataFrame:
    """(sugg, pos, token) rows for every distinct token of every
    entry — tiny (a handful of rows), broadcast into the vocab join."""
    rows = []
    for name, toks, _ in entries:
        seen = {}
        for t in toks:
            if t not in seen:
                seen[t] = len(seen)
        rows.extend((name, pos, t) for t, pos in seen.items())
    return spark.createDataFrame(rows, _SUGG_SCHEMA)


def _suggest_over_vocab(spark: SparkSession, entries,
                        vocab_df: DataFrame) -> DataFrame:
    """Shared kernel: rank candidates of a ``(term, df)`` vocabulary
    frame per (entry, token). ONE broadcast join tokens x vocab per
    entry with length/prefix pruning BEFORE the levenshtein; the
    token's own df (suggest_mode missing/popular) rides the SAME join
    as the distance-0 row and spreads via a per-token window — no
    second vocabulary pass, no corpus re-scan (plan-gated). Candidate
    rows only ever number |tokens| x |edit-ball|, never the corpus."""
    out = []
    toks_df = _token_frame(spark, entries)
    for name, _toks, opts in entries:
        mine = F.broadcast(
            toks_df.where(F.col("sugg") == name)
            .where(F.length("token") >= opts["min_word_length"]))
        t, c = F.col("token"), F.col("term")
        # the join bounds ADMIT the token's own vocab row (distance 0)
        # on purpose — it carries self-df for the mode filters
        cond = ((F.length(c) >= F.length(t) - opts["max_edits"])
                & (F.length(c) <= F.length(t) + opts["max_edits"]))
        if opts["prefix_length"]:
            cond = cond & (F.substring(c, 1, opts["prefix_length"])
                           == F.substring(t, 1, opts["prefix_length"]))
        j = (vocab_df.join(mine, cond)
             .withColumn("__d", F.levenshtein(c, t))
             .where(F.col("__d") <= opts["max_edits"]))
        wp = Window.partitionBy("sugg", "token")
        j = j.withColumn(
            "self_df",
            F.coalesce(
                F.max(F.when(F.col("__d") == 0, F.col("df"))).over(wp),
                F.lit(0)))
        cand = (j.where(F.col("__d") >= 1)
                .where(F.col("df") >= opts["min_doc_freq"]))
        if opts["suggest_mode"] == "missing":
            cand = cand.where(F.col("self_df") == 0)
        elif opts["suggest_mode"] == "popular":
            cand = cand.where(F.col("df") > F.col("self_df"))
        score = (F.lit(1.0) - F.col("__d")
                 / F.least(F.length(t), F.length(c)).cast("double"))
        cand = cand.withColumn("__score", score)
        order = ([F.desc("__score"), F.desc("df"), F.asc("term")]
                 if opts["sort"] == "score"
                 else [F.desc("df"), F.desc("__score"), F.asc("term")])
        w = wp.orderBy(*order)
        out.append(
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= opts["size"])
            .select("sugg", "pos", "token", "rank",
                    F.col("term").alias("suggestion"),
                    F.round("__score", 6).alias("score"),
                    F.col("df").cast("long").alias("freq")))
    return (reduce(DataFrame.unionByName, out)
            .orderBy("sugg", "pos", "rank").drop("pos"))


def suggest_terms(docs_df: DataFrame, request: dict) -> DataFrame:
    """Naive executor: vocabulary = the corpus' distinct tokens with
    df = number of docs containing the term — ONE corpus agg, then the
    vocabulary-sized ranking kernel. -> (sugg, token, rank,
    suggestion, score, freq) ordered (entry, token position, rank)."""
    entries = parse_suggest(request)
    fields = {o["field"] for _, _, o in entries}
    vocabs = {}
    for fld in fields:
        if fld not in docs_df.columns:
            raise DslError(f"suggest field {fld!r} is not a column")
        vocabs[fld] = (
            docs_df.select(F.explode(F.array_distinct(
                tokenize_column(F.col(fld)))).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    spark = docs_df.sparkSession
    parts = [
        _suggest_over_vocab(spark, [e], vocabs[e[2]["field"]])
        for e in entries]
    return reduce(DataFrame.unionByName, parts)


_PHRASE_KEYS = {"field", "size", "gram_size",
                "real_word_error_likelihood", "confidence",
                "max_errors", "smoothing", "direct_generator"}


def _parse_phrase_suggester(name: str, body: dict):
    """One named phrase-suggest entry -> (name, tokens, options)."""
    if not isinstance(body, dict):
        raise DslError(f"bad suggest entry {name!r}: {body!r}")
    unknown = set(body) - {"text", "phrase"}
    if unknown:
        raise DslError(
            f"unsupported suggest keys in {name!r}: {sorted(unknown)}")
    if "phrase" not in body or not isinstance(body["phrase"], dict):
        raise DslError(f"suggest entry {name!r} needs a phrase block")
    if "text" not in body or not isinstance(body["text"], str):
        raise DslError(f"suggest entry {name!r} needs text")
    ph = body["phrase"]
    unknown = set(ph) - _PHRASE_KEYS
    if unknown:
        raise DslError(
            f"unsupported phrase suggester options in {name!r}: "
            f"{sorted(unknown)} (collate/highlight/separator are out "
            f"of grammar)")
    if "field" not in ph or not isinstance(ph["field"], str):
        raise DslError(f"phrase suggester {name!r} needs a field")
    size = ph.get("size", 5)
    gram = ph.get("gram_size", 2)
    rwel = ph.get("real_word_error_likelihood", 0.95)
    conf = ph.get("confidence", 1.0)
    maxe = ph.get("max_errors", 1.0)
    if isinstance(size, bool) or not isinstance(size, int) or size < 1:
        raise DslError(f"size must be a positive int, got {size!r}")
    if gram not in (1, 2):
        raise DslError(f"gram_size must be 1 or 2, got {gram!r} "
                       f"(higher orders are out of grammar)")
    if isinstance(rwel, bool) or not isinstance(rwel, (int, float)) \
            or not 0 < rwel < 1:
        raise DslError(
            f"real_word_error_likelihood must be in (0, 1), got {rwel!r}")
    if isinstance(conf, bool) or not isinstance(conf, (int, float)) \
            or conf < 0:
        raise DslError(f"confidence must be >= 0, got {conf!r}")
    if isinstance(maxe, bool) or not isinstance(maxe, (int, float)) \
            or maxe <= 0:
        raise DslError(f"max_errors must be positive, got {maxe!r}")
    discount = 0.4
    if "smoothing" in ph:
        sm = ph["smoothing"]
        if (not isinstance(sm, dict) or len(sm) != 1
                or "stupid_backoff" not in sm):
            raise DslError(
                f"only stupid_backoff smoothing is supported, got {sm!r}")
        sb = sm["stupid_backoff"]
        if not isinstance(sb, dict) or set(sb) - {"discount"}:
            raise DslError(f"bad stupid_backoff body {sb!r}")
        discount = sb.get("discount", 0.4)
        if isinstance(discount, bool) \
                or not isinstance(discount, (int, float)) \
                or not 0 < discount <= 1:
            raise DslError(f"bad discount {discount!r}")
    gen = ph.get("direct_generator", [{}])
    if not isinstance(gen, list) or len(gen) != 1 \
            or not isinstance(gen[0], dict):
        raise DslError(
            "direct_generator must be a one-element list (multiple "
            "generators are out of grammar)")
    g = dict(gen[0])
    g.setdefault("field", ph["field"])
    if g["field"] != ph["field"]:
        raise DslError("the direct_generator field must match the "
                       "phrase suggester field")
    # generator options reuse the term-suggester grammar/validation
    _gname, _gtoks, gopts = _parse_term_suggester(
        f"{name}.generator", {"text": body["text"], "term": g})
    toks = tokenize_text(body["text"])
    if not toks:
        raise DslError(f"suggest entry {name!r} text must analyze to "
                       f"at least one term")
    n_err = (int(maxe) if maxe >= 1
             else max(1, int(maxe * len(toks))))
    opts = {"field": ph["field"], "size": size, "gram_size": gram,
            "rwel": float(rwel), "confidence": float(conf),
            "max_errors": n_err, "discount": float(discount),
            "generator": gopts}
    return name, toks, opts


def _phrase_sequences(toks, cands_by_pos, max_errors):
    """All correction sequences changing at most ``max_errors``
    positions -> [(terms tuple, changed positions tuple)]. Bounded by
    C(n, e) x size^e — query-sized, never corpus-sized (the same
    boundedness argument as the term suggester's edit ball)."""
    from itertools import combinations, product  # noqa: PLC0415

    seqs = {}
    positions = [p for p in range(len(toks)) if cands_by_pos.get(p)]
    for k in range(0, max_errors + 1):
        for subset in combinations(positions, k):
            pools = [cands_by_pos[p] for p in subset]
            for choice in product(*pools):
                terms = list(toks)
                for p, c in zip(subset, choice):
                    terms[p] = c
                key = tuple(terms)
                if key not in seqs:
                    changed = tuple(
                        p for p, c in zip(subset, choice)
                        if c != toks[p])
                    seqs[key] = changed
    return list(seqs.items())


def _lm_score(terms, changed, toks, uni, big, n_tokens, opts):
    """log10 noisy-channel score of one candidate sequence: stupid-
    backoff n-gram language model + per-position channel
    (real_word_error_likelihood for kept positions, (1 - rwel) x the
    Lucene string similarity for corrections — the documented
    normalization deviation: similarity is not a true error
    probability, but it is deterministic and oracle-replayable)."""
    import math  # noqa: PLC0415

    floor = 1e-30
    lm = 0.0
    d = opts["discount"]
    for i, w in enumerate(terms):
        p_uni = uni.get(w, 0) / n_tokens if n_tokens else 0.0
        if opts["gram_size"] == 1 or i == 0:
            p = p_uni
        else:
            prev = terms[i - 1]
            cb = big.get((prev, w), 0)
            cp = uni.get(prev, 0)
            p = (cb / cp) if cb > 0 and cp > 0 else d * p_uni
        lm += math.log10(max(p, floor))
    chan = 0.0
    for i, w in enumerate(terms):
        if i in changed:
            sim = 1.0 - _lev(toks[i], w) / min(len(toks[i]), len(w))
            chan += math.log10(max((1.0 - opts["rwel"]) * sim, floor))
        else:
            chan += math.log10(opts["rwel"])
    return lm + chan


def _lev(a: str, b: str) -> int:
    """Plain Levenshtein (candidate lists are query-sized; the heavy
    corpus-side distance work already ran inside Spark)."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def suggest_phrase(docs_df: DataFrame, request: dict) -> DataFrame:
    """ES ``phrase`` suggester ("did you mean" over whole phrases) —
    the noisy-channel model over corpus n-gram statistics (Lucene
    NoisyChannelSpellChecker shape, with documented scoring
    deviations)::

        {"suggest": {<name>: {"text": str, "phrase": {
            "field": f, "size": 5, "gram_size": 1|2,
            "real_word_error_likelihood": 0.95, "confidence": 1.0,
            "max_errors": 1.0, "smoothing":
                {"stupid_backoff": {"discount": 0.4}},
            "direct_generator": [{...term-suggester options...}]}}}}

    Semantics:

    - Per-position candidates come from the direct generator (the term
      suggester kernel — same vocabulary join, same modes; default
      ``suggest_mode: missing`` generates only for out-of-vocabulary
      tokens, exactly ES's default).
    - Correction sequences change at most ``max_errors`` positions
      (ES rule: a float < 1 is a fraction of the query terms, >= 1 an
      absolute count).
    - Score (log10) = stupid-backoff language model + channel:
      ``P(w_i | w_{i-1}) = count(w_{i-1} w_i)/count(w_{i-1})``,
      backing off to ``discount * count(w_i)/N``; ``gram_size: 1``
      uses the unigram model directly. Channel: kept positions
      contribute ``real_word_error_likelihood``, corrections
      ``(1 - rwel) * (1 - d/min(len))`` (the term suggester's Lucene
      similarity — deviation: ES derives channel scores from the
      generator's internal Lucene weights, which are not replayable).
    - ``confidence``: only sequences scoring ABOVE
      ``score(input) + log10(confidence)`` return (c=0 disables the
      gate); the unchanged input itself never returns (ES).
    - Output: (sugg, rank, suggestion, score) — suggestion is the
      corrected phrase joined with single spaces; rank by score desc,
      text asc, top ``size``.

    Scale: candidate generation is the vocabulary-sized term-suggester
    kernel over a shared per-field (term, cf, df) frame built in ONE
    corpus scan (unigram counts and the token total come from that
    frame, vocabulary-sized); only the bigram model adds a second
    corpus pass, counting just the (query-sized) bigram set the
    candidate sequences reference — the shuffle carries one row per
    needed gram, never per token. Sequence enumeration/scoring is
    driver-side over a query-bounded set (C(n, max_errors) x generator
    size), the same boundedness class as the term suggester's
    collected edit ball."""
    if not isinstance(request, dict) or not request:
        raise DslError("suggest request must be a non-empty dict")
    body = request.get("suggest", request)
    if not isinstance(body, dict) or not body:
        raise DslError("suggest request must be a non-empty dict")
    entries = [_parse_phrase_suggester(n, b) for n, b in body.items()]
    spark = docs_df.sparkSession

    field_stats = {}

    def stats_of(fld):
        """(vocab(term, cf, df) frame, total token count) — one corpus
        scan per field, shared across entries."""
        if fld not in field_stats:
            if fld not in docs_df.columns:
                raise DslError(f"suggest field {fld!r} is not a column")
            ex = docs_df.select(
                F.monotonically_increasing_id().alias("__rid"),
                F.explode(tokenize_column(F.col(fld))).alias("term"))
            vocab = (ex.groupBy("term")
                     .agg(F.count(F.lit(1)).alias("cf"),
                          F.countDistinct("__rid").alias("df"))
                     .persist())
            n_tokens = vocab.agg(F.sum("cf")).first()[0] or 0
            field_stats[fld] = (vocab, int(n_tokens))
        return field_stats[fld]

    out_rows = []
    for name, toks, opts in entries:
        fld = opts["field"]
        vocab, n_tokens = stats_of(fld)
        gen = dict(opts["generator"])
        cand_rows = _suggest_over_vocab(
            spark, [(name, toks, gen)],
            vocab.select("term", "df")).collect()
        cands_by_pos = {}
        for r in cand_rows:
            for p, t in enumerate(toks):
                if t == r["token"]:
                    cands_by_pos.setdefault(p, [])
                    if r["suggestion"] not in cands_by_pos[p]:
                        cands_by_pos[p].append(r["suggestion"])
        seqs = _phrase_sequences(toks, cands_by_pos, opts["max_errors"])
        # unigram counts come from the shared vocab frame
        # (vocabulary-sized filter, query-sized result)
        need_uni = sorted({w for terms, _ in seqs for w in terms}
                          | set(toks))
        uni = {r["term"]: r["cf"] for r in
               vocab.where(F.col("term").isin(need_uni))
               .select("term", "cf").collect()}
        # only the bigram LM needs a second corpus pass, counting just
        # the query-sized bigram set
        need_big = sorted({
            f"{a} {b}"
            for terms, _ in seqs
            for a, b in zip(terms, terms[1:])}
            | {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        ) if opts["gram_size"] == 2 else []
        big = {}
        if need_big:
            td = docs_df.select(tokenize_column(F.col(fld)).alias("t"))
            big_arr = F.filter(
                F.expr("CASE WHEN size(t) < 2 THEN array() ELSE "
                       "transform(sequence(0, size(t)-2), "
                       "i -> concat_ws(' ', t[i], t[i+1])) END"),
                lambda x: x.isin(need_big))
            grams = (td.select(F.explode(big_arr).alias("g"))
                     .groupBy("g").agg(F.count(F.lit(1)).alias("c"))
                     .collect())
            big = {tuple(r["g"].split(" ")): r["c"] for r in grams}
        base = _lm_score(tuple(toks), (), toks, uni, big,
                         n_tokens, opts)
        scored = []
        for terms, changed in seqs:
            if not changed:
                continue  # the unchanged input never returns (ES)
            s = _lm_score(terms, set(changed), toks, uni, big,
                          n_tokens, opts)
            if opts["confidence"] > 0:
                import math  # noqa: PLC0415
                if s <= base + math.log10(opts["confidence"]):
                    continue
            scored.append((" ".join(terms), s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        out_rows.extend(
            (name, i + 1, text, round(s, 6))
            for i, (text, s) in enumerate(scored[:opts["size"]]))
    for vocab, _n in field_stats.values():
        vocab.unpersist()
    return spark.createDataFrame(
        out_rows or [],
        "sugg string, rank int, suggestion string, score double")


_COMPLETION_KEYS = {"field", "size", "skip_duplicates"}


def _parse_completion(name: str, body: dict):
    """One named completion entry -> (name, prefix, opts)."""
    if not isinstance(body, dict):
        raise DslError(f"bad suggest entry {name!r}: {body!r}")
    unknown = set(body) - {"prefix", "completion"}
    if unknown:
        raise DslError(
            f"unsupported suggest keys in {name!r}: {sorted(unknown)} "
            f"(regex/fuzzy completion prefixes are out of grammar)")
    if "completion" not in body or not isinstance(body["completion"],
                                                  dict):
        raise DslError(f"suggest entry {name!r} needs a completion "
                       f"block")
    if "prefix" not in body or not isinstance(body["prefix"], str) \
            or not body["prefix"]:
        raise DslError(f"suggest entry {name!r} needs a non-empty "
                       f"prefix")
    comp = body["completion"]
    unknown = set(comp) - _COMPLETION_KEYS
    if unknown:
        raise DslError(
            f"unsupported completion options in {name!r}: "
            f"{sorted(unknown)} (fuzzy/contexts need the FST/context "
            f"machinery ES builds from dedicated completion fields)")
    if "field" not in comp or not isinstance(comp["field"], str):
        raise DslError(f"completion suggester {name!r} needs a field")
    size = comp.get("size", 5)
    if isinstance(size, bool) or not isinstance(size, int) or size < 1:
        raise DslError(f"size must be a positive int, got {size!r}")
    skip = comp.get("skip_duplicates", False)
    if not isinstance(skip, bool):
        raise DslError(f"skip_duplicates must be a bool, got {skip!r}")
    # the engine's vocabulary is distinct by construction, so
    # skip_duplicates is always satisfied — accepted as a no-op
    prefix = body["prefix"].lower()
    return name, prefix, {"field": comp["field"], "size": size}


def _complete_over_vocab(entries, vocab_of) -> DataFrame:
    """Rank prefix completions of a ``(term, df)`` vocabulary per
    entry: one pushdown-friendly ``startswith`` filter + a top-size
    window — candidate rows are prefix-ball-sized, never corpus-sized.
    -> (sugg, prefix, rank, suggestion, score)."""
    out = []
    for name, prefix, opts in entries:
        vocab = vocab_of(opts["field"])
        w = Window.partitionBy(F.lit(1)).orderBy(
            F.desc("df"), F.asc("term"))
        out.append(
            vocab.where(F.col("term").startswith(prefix))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= opts["size"])
            .select(F.lit(name).alias("sugg"),
                    F.lit(prefix).alias("prefix"), "rank",
                    F.col("term").alias("suggestion"),
                    F.col("df").cast("double").alias("score")))
    return reduce(DataFrame.unionByName, out).orderBy("sugg", "rank")


def suggest_completion(docs_df: DataFrame, request: dict) -> DataFrame:
    """ES ``completion`` suggester (search-as-you-type) — the engine's
    analogue over the corpus vocabulary::

        {"suggest": {<name>: {"prefix": str,
                              "completion": {"field": f, "size": 5,
                                             "skip_duplicates": bool}}}}

    ES completes against dedicated ``completion`` fields (stored
    input/weight pairs in an FST); the engine has no such field type,
    so completions are VOCABULARY TERMS of the target field sharing
    the (lowercased) prefix, scored by document frequency — the
    documented weight analogue (ES scores by the indexed weight).
    Ordering: score desc, term asc (deterministic tiebreak), top
    ``size``. Fuzzy/regex prefixes and contexts stay out of grammar —
    they need the FST machinery this engine deliberately lacks.

    Scale: the prefix filter runs over the vocabulary (index-metadata
    sized), not the corpus; the window ranks prefix-ball rows only."""
    if not isinstance(request, dict) or not request:
        raise DslError("suggest request must be a non-empty dict")
    body = request.get("suggest", request)
    if not isinstance(body, dict) or not body:
        raise DslError("suggest request must be a non-empty dict")
    entries = [_parse_completion(n, b) for n, b in body.items()]
    vocabs = {}

    def vocab_of(fld):
        if fld not in vocabs:
            if fld not in docs_df.columns:
                raise DslError(f"suggest field {fld!r} is not a column")
            vocabs[fld] = (
                docs_df.select(F.explode(F.array_distinct(
                    tokenize_column(F.col(fld)))).alias("term"))
                .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
        return vocabs[fld]

    return _complete_over_vocab(entries, vocab_of)


def suggest_completion_indexed(
    spark: SparkSession,
    index_dir: str | list[str],
    request: dict,
) -> DataFrame:
    """Indexed completion: candidate terms from the segments' terms
    dim, df for the prefix-ball survivors through the postings df
    cache — row-identical to :func:`suggest_completion` on the union
    corpus (pytest-gated), corpus never read."""
    from prow_jobs_scraper_spark.functions.xxh64 import (  # noqa: PLC0415
        term_id_py,
    )
    from prow_jobs_scraper_spark.search.compressed import (  # noqa: PLC0415
        _df_stats_multi,
        _load_segments,
    )
    from prow_jobs_scraper_spark.search.dsl import (  # noqa: PLC0415
        _INDEXED_TEXT_FIELD,
    )

    if not isinstance(request, dict) or not request:
        raise DslError("suggest request must be a non-empty dict")
    body = request.get("suggest", request)
    if not isinstance(body, dict) or not body:
        raise DslError("suggest request must be a non-empty dict")
    entries = [_parse_completion(n, b) for n, b in body.items()]
    other = {o["field"] for _, _, o in entries} - {_INDEXED_TEXT_FIELD}
    if other:
        raise DslError(
            f"the compressed index holds the {_INDEXED_TEXT_FIELD!r} "
            f"field only; completion targets {sorted(other)}")
    segs, _n_docs, _avgdl = _load_segments(spark, index_dir)
    terms = reduce(
        DataFrame.unionByName,
        [s.table("terms").select("term") for s in segs]).distinct()
    cond = reduce(lambda a, b: a | b,
                  [F.col("term").startswith(p) for _, p, _ in entries])
    ball = [r["term"] for r in terms.where(cond).collect()]
    df_of = _df_stats_multi(segs, [term_id_py(t) for t in ball])
    vocab = spark.createDataFrame(
        [(t, int(df_of.get(term_id_py(t), 0))) for t in ball]
        or [("", 0)], "term string, df long").where(F.col("df") > 0)
    return _complete_over_vocab(entries, lambda _fld: vocab)


def suggest_terms_indexed(
    spark: SparkSession,
    index_dir: str | list[str],
    request: dict,
) -> DataFrame:
    """Indexed executor: candidate strings from the segments' terms dim
    (index metadata), df for the FEW levenshtein survivors through the
    segment handles' df cache — the corpus is never read. Must stay
    row-identical to :func:`suggest_terms` on the union corpus
    (pytest-gated)."""
    from prow_jobs_scraper_spark.functions.xxh64 import (  # noqa: PLC0415
        term_id_py,
    )
    from prow_jobs_scraper_spark.search.compressed import (  # noqa: PLC0415
        _df_stats_multi,
        _load_segments,
    )
    from prow_jobs_scraper_spark.search.dsl import (  # noqa: PLC0415
        _INDEXED_TEXT_FIELD,
    )

    entries = parse_suggest(request)
    other = {o["field"] for _, _, o in entries} - {_INDEXED_TEXT_FIELD}
    if other:
        raise DslError(
            f"the compressed index holds the {_INDEXED_TEXT_FIELD!r} "
            f"field only; suggest targets {sorted(other)}")
    segs, _n_docs, _avgdl = _load_segments(spark, index_dir)
    terms = reduce(
        DataFrame.unionByName,
        [s.table("terms").select("term") for s in segs]).distinct()
    # prune to the union edit-ball before any df work: length bounds +
    # shared-prefix alternatives, then exact levenshtein
    want = set()
    conds = []
    for _name, toks, opts in entries:
        for t in set(toks):
            if len(t) < opts["min_word_length"]:
                continue
            tl, me, pl = F.lit(t), opts["max_edits"], opts["prefix_length"]
            c = F.col("term")
            cond = ((F.length(c) >= len(t) - me)
                    & (F.length(c) <= len(t) + me)
                    & (F.levenshtein(c, tl) <= me))
            if pl:
                cond = cond & (F.substring(c, 1, pl) == t[:pl])
            conds.append(cond | (c == tl))  # keep t itself for self_df
            want.add(t)
    if not conds:
        empty = _suggest_over_vocab(
            spark, entries,
            spark.createDataFrame([], "term string, df long"))
        return empty
    ball = terms.where(reduce(lambda a, b: a | b, conds))
    cand_terms = [r["term"] for r in ball.collect()]
    df_of = _df_stats_multi(segs, [term_id_py(t) for t in cand_terms])
    vocab = spark.createDataFrame(
        [(t, int(df_of.get(term_id_py(t), 0))) for t in cand_terms]
        or [("", 0)], "term string, df long")
    vocab = vocab.where(F.col("df") > 0)
    return _suggest_over_vocab(spark, entries, vocab)
