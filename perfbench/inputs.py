"""Seeded inputs for every workload, generated once and cached by seed.

Everything here is a pure function of ``(workload, seed)``: the corpus
parquet files, the search op stream (match queries, ``_search`` bodies,
``_msearch`` batches) and the ingest delta. The engine only ever sees the
generated files and query values. Expected answers are cached next to the
inputs (``expected.json``), so a rerun with the same seed skips the
oracle.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil

import numpy as np
import pandas as pd

from prow_jobs_scraper_spark.synth import make_vocab, synth_transcripts_pandas

# Sizes are chosen so that a whole run, JVM start included, stays well
# under a minute on a 4-core box (see README.md, "Sizing").
BUILD_TURNS = 10_000
SEARCH_TURNS = 10_000
DELTA_TURNS = 2_000
VOCAB = make_vocab(5000)

# op-type pattern of the search reads: 40% match AND, 30% match OR, 20%
# _search bodies, 10% _msearch batches, in a fixed order so every whole
# cycle of ten reads has the exact mix. Every read but the two "fresh" ones
# uses terms of the per-seed pool, whose df the warm-up has cached; the fresh
# reads carry tail terms never queried before, so they always fetch df.
# Every run thus hits and misses the engine's df cache at the same places.
SEARCH_PATTERN = ["and", "or", "and_fresh", "request", "or",
                  "and", "msearch", "or_fresh", "and", "request"]
TAIL_START = 2500        # pool terms rank below this, fresh terms above
WRITER_CYCLE = ["tick", "multi", "compact", "multi"]
REQUEST_KINDS = ["bool_filter", "should_page", "terms_agg"]
POOL_SIZE = 12          # match queries per operator in a seed's pool
MSEARCH_BATCH = 10
TOP_K = 10


def cache_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, "cache", f"{workload}-s{seed}")


def write_corpus(pdf: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files (so the scan has one
    task per core), timestamps in microseconds as Spark reads them."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        write_parquet(pdf.iloc[part], os.path.join(tmp, f"part-{i:03d}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pdf.to_parquet(path, index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def corpus(cache: str, seed: int, n_turns: int, n_files: int) -> str:
    """The transcripts corpus of a seed: Zipf conversation lengths, one
    giant conversation and 4 hot terms in ~35% of turns."""
    d = os.path.join(cache, "corpus")
    if not os.path.isdir(d):
        write_corpus(synth_transcripts_pandas(n_turns, seed=seed), d, n_files)
    return d


# -- search stream ------------------------------------------------------

def _pool_text(rng: np.random.Generator, n: int) -> str:
    ranks = np.minimum(rng.zipf(1.3, size=n) - 1, TAIL_START - 1)
    return " ".join(VOCAB[ranks])


def _request(kind: str, text: str, rng: np.random.Generator) -> dict:
    if kind == "bool_filter":
        day = int(rng.integers(2, 16))
        return {
            "query": {"bool": {
                "must": [{"match": {"text": {"query": text,
                                             "operator": "or"}}}],
                "filter": [
                    {"term": {"role": str(rng.choice(["user", "assistant"]))}},
                    {"range": {"ts": {"gte": f"2025-06-{day:02d}",
                                      "lte": f"2025-06-{day + 12:02d}"}}},
                ]}},
            "size": TOP_K,
        }
    if kind == "should_page":
        return {
            "query": {"bool": {"should": [
                {"match": {"text": {"query": t}}} for t in text.split()[:2]]}},
            "from": TOP_K, "size": TOP_K,
        }
    return {
        "query": {"match": {"text": {"query": text.split()[0],
                                     "operator": "and"}}},
        "aggs": {"by_tool": {"terms": {"field": "tool", "size": 10}}},
    }


class SearchInputs:
    """The per-seed query pool and the three op lists built from it:
    ``warmup`` (run in set-up), ``reads`` (``n_cycles`` whole cycles of
    the read pattern, timed) and ``writer`` (the delta tick, fan-out reads
    and compaction, timed after the reads)."""

    def __init__(self, seed: int, n_cycles: int):
        rng = np.random.default_rng(seed)
        pool = {op: [_pool_text(rng, int(rng.integers(1, 4)))
                     for _ in range(POOL_SIZE)] for op in ("and", "or")}
        text = f"{pool['or'][0]} {pool['and'][0]}"
        requests = [_request(kind, text, rng) for kind in REQUEST_KINDS]
        tail = iter(VOCAB[TAIL_START + rng.permutation(
            len(VOCAB) - TAIL_START)])

        def pick(op: str) -> str:
            return pool[op][min(int(rng.zipf(1.5)), POOL_SIZE) - 1]

        self.warmup = [
            {"kind": "msearch", "queries": [
                {"query_id": f"w{op}{j:02d}", "query_text": t, "k": TOP_K,
                 "operator": op}
                for op in ("and", "or") for j, t in enumerate(pool[op])]},
            {"kind": "and", "query_text": pool["and"][0]},
            {"kind": "or", "query_text": pool["or"][0]},
            {"kind": "request", "request": requests[0]},
        ]
        timed_requests = itertools.cycle(requests[1:] + requests[:1])
        self.reads = []
        for i in range(n_cycles * len(SEARCH_PATTERN)):
            kind = SEARCH_PATTERN[i % len(SEARCH_PATTERN)]
            if kind == "and_fresh":
                op = {"kind": "and",
                      "query_text": f"{pick('and').split()[0]} {next(tail)}"}
            elif kind == "or_fresh":
                op = {"kind": "or", "query_text": f"{next(tail)} {next(tail)}"}
            elif kind in ("and", "or"):
                op = {"kind": kind, "query_text": pick(kind)}
            elif kind == "request":
                op = {"kind": kind, "request": next(timed_requests)}
            else:
                op = {"kind": kind, "queries": [
                    {"query_id": f"m{j:02d}", "query_text": pick(o), "k": TOP_K,
                     "operator": o}
                    for j, o in enumerate(["and", "or"] * (MSEARCH_BATCH // 2))]}
            self.reads.append(op)
        live = {"query_text": f"spark {pool['or'][1]}", "operator": "or"}
        self.writer = [{"kind": kind, **live} if kind == "multi"
                       else {"kind": kind} for kind in WRITER_CYCLE]


# -- the ingest delta ------------------------------------------------------

def delta_frame(seed: int) -> pd.DataFrame:
    """The delta the writer cycle lands: its own (conv_id, turn_idx) keys,
    so its doc ids never collide with the base corpus's (the fan-out
    search needs disjoint segments), and event times 5 weeks after the
    corpus's. A loop of ticks would need each delta's events past the
    previous one's by more than the 7-day dedup watermark, or the tick
    ingests 0 turns."""
    pdf = synth_transcripts_pandas(DELTA_TURNS, seed=seed + 1)
    pdf["conv_id"] = pdf["conv_id"].str.replace("conv-", "conv-delta-",
                                                regex=False)
    pdf["ts"] = pdf["ts"] + pd.Timedelta(days=35)
    return pdf


# -- expected-answer cache ------------------------------------------------

class Expected:
    """Answers keyed by a canonical JSON of the op, stored per seed."""

    def __init__(self, directory: str):
        os.makedirs(directory, exist_ok=True)
        self.path = os.path.join(directory, "expected.json")
        self.data: dict[str, list] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.data = json.load(f)
        self._dirty = False

    def get(self, spec, compute):
        k = json.dumps(spec, sort_keys=True)
        if k not in self.data:
            self.data[k] = compute()
            self._dirty = True
        return self.data[k]

    def save(self) -> None:
        if self._dirty:
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.data, f)
            os.replace(tmp, self.path)
