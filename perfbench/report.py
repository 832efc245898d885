"""Turn a finished run into the metric dicts the result line carries.

End-to-end metrics (``--trace 0``) exist on every workload; what the
"op" of a workload is is listed in README.md. Per-layer
metrics (``--trace 1``) come from the span recorder; a layer the workload
never calls in its timed ops reports 0.
"""

from __future__ import annotations

import os
import statistics

import pandas as pd

from perfbench.spans import SpanRecorder

PRIMARY_OP = {"build": {"build"},
              "search": {"and", "or", "request", "msearch"}}


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM, the Python worker
    daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_gc_s(spark) -> float:
    """Time the driver JVM (executors included, in local mode) has spent
    in garbage collection since it started."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def dir_bytes(path: str, sub: str = "") -> int:
    total = 0
    for d, _, files in os.walk(os.path.join(path, sub)):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


def end_to_end(workload: str, run, session_s: float) -> dict:
    ops = [o.seconds for o in run.ops
           if o.ok and o.kind in PRIMARY_OP[workload]]
    index_bytes = sum(dir_bytes(d) for d in run.extra["index_dirs"])
    return {
        "setup_s": (session_s + run.setup_s, "s"),
        "op_p50_ms": (_median(ops) * 1000.0, "ms"),
        "ops_wall_s": (sum(o.seconds for o in run.ops), "s"),
        "index_bytes_per_input_byte": (
            index_bytes / max(run.extra["input_bytes"], 1), "ratio"),
    }


def _codec(index_dirs: list[str]) -> tuple[float, float]:
    """(postings bytes per posting, postings per block) over the
    ``postings/`` tables: a block row's ``n_docs`` is its posting count."""
    n_postings = n_blocks = 0
    for d in index_dirs:
        blocks = pd.read_parquet(os.path.join(d, "postings"),
                                 columns=["n_docs"])
        n_postings += int(blocks["n_docs"].sum())
        n_blocks += len(blocks)
    post_bytes = sum(dir_bytes(d, "postings") for d in index_dirs)
    return post_bytes / max(n_postings, 1), n_postings / max(n_blocks, 1)


def per_layer(run, tr: SpanRecorder, session_s: float) -> dict:
    tr.resolve_jobs()
    timed = [s for s in tr.spans if s["op"] is not None]

    def named(name):
        return [s for s in timed if s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    out = {"session.start_s": (session_s, "s")}

    builds = named("index.build")
    for stage in ("doc_stats", "terms_dim", "encode_commit"):
        out[f"index.build.{stage}_s"] = (_median(
            s["result"]["stage_sec"][stage] for s in builds), "s")
    out["index.build.spark_jobs"] = (_median(
        tr.total_jobs(s) for s in builds), "count")
    out["index.build.skew_ratio_max"] = (_median(
        s["result"]["skew_ratio_max"] for s in builds), "ratio")
    out["index.build.turns_per_s"] = (_median(
        s["result"]["n_docs"] / dur(s) for s in builds), "1/s")

    per_posting, per_block = _codec(run.extra["index_dirs"])
    out["index.codec.postings_bytes_per_posting"] = (per_posting, "B")
    out["index.codec.postings_per_block"] = (per_block, "count")

    for layer in ("search.compressed.topk", "search.compressed.many",
                  "search.dsl.request", "search.compressed.multi"):
        calls = named(layer)
        execs = {s["op"]: s for s in named(layer + ".execute")}
        out[f"{layer}.plan_ms"] = (_median(dur(s) for s in calls) * 1e3, "ms")
        out[f"{layer}.execute_ms"] = (_median(
            dur(s) for s in execs.values()) * 1e3, "ms")
        out[f"{layer}.spark_jobs"] = (_median(
            tr.total_jobs(s) + (execs[s["op"]]["spark_jobs"]
                                if s["op"] in execs else 0)
            for s in calls), "count")

    ticks = named("streaming.incremental.tick")
    out["streaming.incremental.live_segments"] = (
        _median(run.extra.get("live_segments", [])), "count")
    out["streaming.incremental.tick.self_s"] = (_median(
        dur(s) - sum(dur(c) for c in tr.children(s)
                     if c["name"] == "index.build") for s in ticks), "s")
    out["streaming.incremental.tick.build_s"] = (_median(
        dur(c) for s in ticks for c in tr.children(s)
        if c["name"] == "index.build"), "s")
    out["streaming.incremental.tick.spark_jobs"] = (_median(
        tr.total_jobs(s) for s in ticks), "count")
    out["streaming.incremental.compact_s"] = (_median(
        dur(s) for s in named("streaming.incremental.compact")
        if s["result"]["compacted"]), "s")

    by_kind: dict[str, list[float]] = {}
    for o in run.ops:
        if o.ok:
            by_kind.setdefault(o.kind, []).append(o.seconds)
    for kind in ("and", "or", "request", "msearch", "build", "tick",
                 "multi", "compact"):
        out[f"op.{kind}_p50_ms"] = (_median(by_kind.get(kind, [])) * 1e3, "ms")
    out["mem.peak_rss_mb"] = (run.rss_mb, "MB")
    out["jvm.gc_s"] = (run.gc_s, "s")
    out["trace.ops_wall_s"] = (sum(o.seconds for o in run.ops), "s")
    out["trace.recorder_ms_per_op"] = (
        tr.recorder_s * 1e3 / max(len(run.ops), 1), "ms")
    return out
