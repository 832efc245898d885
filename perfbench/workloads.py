"""The workloads: ``build`` and ``search``.

Each one drives the engine only through its public functions, always
through the module attribute (``compressed.search_topk``), so the traced
run's wrappers see every call. A workload does its set-up (counted in
``setup_s``), runs a fixed list of operations in a closed loop with one
client, then checks every answer it got.

``--seconds`` sizes the list from the nominal cost of an operation on a
4-core box (``BUILD_OP_S``, ``READ_CYCLE_S``), so every host runs the
same list and the same mix, whatever its speed.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd

from prow_jobs_scraper_spark.index import build as ibuild
from prow_jobs_scraper_spark.oracle.bm25 import bm25_oracle_topk
from prow_jobs_scraper_spark.search import compressed, dsl
from prow_jobs_scraper_spark.streaming import incremental
from prow_jobs_scraper_spark.synth import reference_query_set

from perfbench import checks, inputs, report
from perfbench.spans import SpanRecorder

BUILD_CONFIG = ibuild.BuildConfig(n_ranges=4, n_buckets=4)
COMPACT_AT = 0            # compact_tick(max_segments=...): fold every tick
BUILD_OP_S = 4.0          # one 10k-turn build
READ_CYCLE_S = 10.0       # one cycle of inputs.SEARCH_PATTERN


def n_ops(seconds: float, nominal_s: float) -> int:
    return max(1, round(seconds / nominal_s))


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool


@dataclass
class Run:
    spark: object
    work: str               # scratch dir for this run (indexes, streams)
    cache: str              # per-(workload, seed) input/answer cache
    seed: int
    seconds: float
    nproc: int
    trace: SpanRecorder | None = None
    ops: list[Op] = field(default_factory=list)
    failed: int = 0
    setup_s: float = 0.0
    rss_mb: float = 0.0     # peak RSS when the timed ops end
    gc_s: float = 0.0       # JVM GC time when the timed ops end
    extra: dict = field(default_factory=dict)

    def end_timed(self) -> None:
        """Close the timed list: read peak RSS before any answer check
        adds its own memory use."""
        self.rss_mb = report.peak_rss_mb(report.descendants(os.getpid()))
        self.gc_s = report.jvm_gc_s(self.spark)
        print(f"perfbench: {len(self.ops)} timed ops: "
              f"{sum(o.seconds for o in self.ops):.3f} s, "
              f"peak RSS {self.rss_mb:.1f} MB, JVM GC {self.gc_s:.3f} s",
              file=sys.stderr, flush=True)

    def call(self, kind: str, fn):
        """Run one timed operation; an exception counts as a failed op.
        Returns its result, or None if it raised."""
        t0 = time.perf_counter()
        try:
            if self.trace is not None:
                with self.trace.op(f"op-{len(self.ops)}", kind):
                    out = fn()
            else:
                out = fn()
            ok = True
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        dt = time.perf_counter() - t0
        print(f"perfbench: op {kind} {dt:.3f} s{'' if ok else ' FAILED'}",
              file=sys.stderr, flush=True)
        self.ops.append(Op(kind, dt, ok))
        if not ok:
            self.failed += 1
        return out

    def collect(self, name: str, frame):
        """Execute a lazily planned result (the ``.execute`` span)."""
        if self.trace is None:
            return frame.toPandas()
        with self.trace.span(name + ".execute"):
            return frame.toPandas()

    def log(self, what: str, since: float) -> None:
        print(f"perfbench: {what}: {time.perf_counter() - since:.3f} s",
              file=sys.stderr, flush=True)

    def fail(self, what: str) -> None:
        print(f"perfbench: wrong answer: {what}", file=sys.stderr)
        self.failed += 1


def _docs_pdf(spark, path: str):
    """(doc_id, text) of a corpus dir, doc ids as the engine assigns them."""
    return ibuild.with_doc_ids(spark.read.parquet(path)).select(
        "doc_id", "text").toPandas()


def _oracle(docs_fn, text: str, k: int, operator: str) -> dict:
    return checks.topk_json(bm25_oracle_topk(docs_fn(), text, k,
                                             operator=operator))


def text_bytes(pdf) -> int:
    return int(pdf["text"].fillna("").map(lambda s: len(s.encode())).sum())


# -- build --------------------------------------------------------------

def run_build(run: Run) -> None:
    corpus = inputs.corpus(run.cache, run.seed, inputs.BUILD_TURNS, run.nproc)
    frame = run.spark.read.parquet(corpus)
    refs = reference_query_set()
    expected = inputs.Expected(run.cache)
    docs = functools.cache(lambda: _docs_pdf(run.spark, corpus))

    def build_into(i: int) -> str:
        out = os.path.join(run.work, f"idx-{i}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def check(out: str, label: str) -> None:
        """The reference query set on a fresh index, against the oracle."""
        got = checks.split_many(
            compressed.search_topk_many(run.spark, out, refs).toPandas(),
            [q["query_id"] for q in refs])
        wrong = [q["query_id"] for q in refs if not checks.frames_match(
            got[q["query_id"]], expected.get({"ref": q}, lambda q=q: _oracle(
                docs, q["query_text"], q["k"], "and")))]
        if wrong:
            run.fail(f"{label}: reference queries {wrong}")

    # set-up: one warm-up build
    t0 = time.perf_counter()
    built = [build_into(0)]
    ibuild.build_index(run.spark, frame, built[0], BUILD_CONFIG)
    run.setup_s += time.perf_counter() - t0
    run.log("set-up warm-up build", t0)

    for n in range(1, n_ops(run.seconds, BUILD_OP_S) + 1):
        out = build_into(n)
        if run.call("build", lambda: ibuild.build_index(
                run.spark, frame, out, BUILD_CONFIG)) is not None:
            built.append(out)
    run.end_timed()

    for n, out in enumerate(built):
        check(out, f"build {n}")
    expected.save()
    run.extra["index_dirs"] = built[-1:]
    run.extra["input_bytes"] = text_bytes(docs())


# -- search (reads, with one writer cycle) -------------------------------

class _Stream:
    """The stream source dir and the tick work dir that indexes it; the
    writer cycle lands the run's one delta there."""

    def __init__(self, run: Run):
        self.run = run
        self.source = os.path.join(run.work, "source")
        self.work = os.path.join(run.work, "ticks")
        os.makedirs(self.source)
        self.delta = os.path.join(run.cache, "delta.parquet")
        if not os.path.exists(self.delta):
            inputs.write_parquet(inputs.delta_frame(run.seed),
                                 self.delta + ".tmp")
            os.replace(self.delta + ".tmp", self.delta)
        self.segments: list[str] = []

    def land(self) -> None:
        """Copy the delta straight into the source dir (the file source
        does not look into subdirectories)."""
        tmp = os.path.join(self.run.work, "landing.tmp")
        shutil.copyfile(self.delta, tmp)
        os.replace(tmp, os.path.join(self.source, "delta.parquet"))

    def tick(self) -> dict:
        res = incremental.ingest_and_index_tick(
            self.run.spark, self.source, self.work, BUILD_CONFIG)
        if res["n_new_turns"] != inputs.DELTA_TURNS:
            self.run.fail(f"tick: n_new_turns={res['n_new_turns']}, "
                          f"landed {inputs.DELTA_TURNS}")
        self.segments = res["segments"]
        return res

    def compact(self) -> dict:
        res = incremental.compact_tick(self.run.spark, self.work,
                                       COMPACT_AT, BUILD_CONFIG)
        if not res["compacted"]:
            self.run.fail("compact_tick did not compact")
        self.segments = res["segments"]
        return res


def _search_op(run: Run, idx: str, op: dict, stream: _Stream | None = None):
    kind = op["kind"]
    if kind in ("and", "or"):
        return run.collect("search.compressed.topk", compressed.search_topk(
            run.spark, idx, op["query_text"], inputs.TOP_K, operator=kind))
    if kind == "request":
        return run.collect("search.dsl.request", dsl.execute_request_indexed(
            run.spark, idx, op["request"]))
    if kind == "msearch":
        return run.collect("search.compressed.many",
                           compressed.search_topk_many(run.spark, idx,
                                                       op["queries"]))
    if kind == "tick":
        return stream.tick()
    if kind == "compact":
        return stream.compact()
    segs = [idx] + stream.segments
    run.extra.setdefault("live_segments", []).append(len(segs))
    return run.collect("search.compressed.multi",
                       compressed.search_topk_multi(
                           run.spark, segs, op["query_text"], inputs.TOP_K,
                           operator=op["operator"]))


def run_search(run: Run) -> None:
    corpus = inputs.corpus(run.cache, run.seed, inputs.SEARCH_TURNS, run.nproc)
    plan = inputs.SearchInputs(run.seed, n_ops(run.seconds, READ_CYCLE_S))
    expected = inputs.Expected(run.cache)
    idx = os.path.join(run.work, "idx")
    stream = _Stream(run)

    t0 = time.perf_counter()
    ibuild.build_index(run.spark, run.spark.read.parquet(corpus), idx,
                       BUILD_CONFIG)
    run.log("set-up index build", t0)
    t1 = time.perf_counter()
    for op in plan.warmup:
        _search_op(run, idx, op)
    run.log(f"set-up {len(plan.warmup)} warm-up reads", t1)
    run.setup_s += time.perf_counter() - t0

    # the timed list: whole read cycles, then the writer cycle
    done = []
    for op in plan.reads + plan.writer:
        if op["kind"] == "tick":
            stream.land()
        done.append((op, run.call(
            op["kind"], lambda op=op: _search_op(run, idx, op, stream))))
    run.end_timed()

    t0 = time.perf_counter()
    docs = functools.cache(lambda: _docs_pdf(run.spark, corpus))
    live_docs = functools.cache(lambda: pd.concat(
        [docs(), _docs_pdf(run.spark, stream.delta)], ignore_index=True))
    naive_docs = functools.cache(lambda: ibuild.with_doc_ids(
        run.spark.read.parquet(corpus)))

    def oracle_for(kind, text):
        return expected.get({"kind": kind, "query_text": text},
                            lambda: _oracle(docs, text, inputs.TOP_K, kind))

    for i, (op, got) in enumerate(done):
        kind = op["kind"]
        if got is None or kind in ("tick", "compact"):
            continue  # failures were counted when they happened
        if kind in ("and", "or"):
            ok = checks.frames_match(checks.topk_json(got),
                                     oracle_for(kind, op["query_text"]))
        elif kind == "request":
            want = expected.get(op, lambda op=op: checks.frame_json(
                dsl.execute_request(naive_docs(), op["request"]).toPandas()))
            ok = checks.frames_match(checks.frame_json(got), want)
        elif kind == "msearch":
            per_q = checks.split_many(got, [q["query_id"] for q in op["queries"]])
            ok = all(checks.frames_match(per_q[q["query_id"]],
                                         oracle_for(q["operator"], q["query_text"]))
                     for q in op["queries"])
        else:  # multi, before and after compaction: base corpus + delta
            ok = checks.frames_match(checks.topk_json(got), expected.get(
                {"live": op}, lambda op=op: _oracle(
                    live_docs, op["query_text"], inputs.TOP_K, op["operator"])))
        if not ok:
            run.fail(f"search op {i} ({kind})")
    expected.save()
    run.log("answer checks", t0)
    run.extra["index_dirs"] = [idx] + stream.segments
    run.extra["input_bytes"] = text_bytes(live_docs())


WORKLOADS = {"build": run_build, "search": run_search}
