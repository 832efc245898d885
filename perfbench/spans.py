"""In-process span recorder for the traced run.

Wraps public functions of the engine by replacing their module attribute,
so a call made through the module (``compressed.search_topk(...)``), or a
function the engine imports at call time (``ingest_and_index_tick``
imports ``build_index`` when it runs), is recorded as a span. The package
itself is never modified: ``uninstall`` puts every original back.

Each span records name, start, end, parent span, the op it belongs to and
its own Spark job group. Every span sets ``spark.jobGroup.id`` to its own
id while it runs and restores the caller's group on exit, so a job is
counted once, in the innermost span that launched it. Job counts are read
from the status tracker after the run, once the listener bus has caught up.
Spans stay in memory until :meth:`SpanRecorder.write`.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class SpanRecorder:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._op: str | None = None
        self.recorder_s = 0.0  # time spent in the recorder's own bookkeeping
        self.stream_groups: list[tuple[int, str]] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        gid = f"perfbench-span-{sid}"
        prev = self._sc.getLocalProperty(_GROUP)
        self._sc.setLocalProperty(_GROUP, gid)
        rec = {"id": sid, "name": name, "op": self._op, "group": gid,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        t1 = time.perf_counter()
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(_GROUP, prev)
            rec["start"], rec["end"] = t1, t2
            self.recorder_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextmanager
    def op(self, op_id: str, kind: str):
        """Root span of one benchmark operation."""
        self._op = op_id
        try:
            with self.span(f"op.{kind}") as rec:
                yield rec
        finally:
            self._op = None

    # -- wrappers ------------------------------------------------------
    def wrap(self, module, attr: str, name: str, keep=None) -> None:
        """Record every call of ``module.attr`` as span ``name``;
        ``keep(result)`` picks what of the result the span stores."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if keep is not None:
                    rec["result"] = keep(out)
                return out

        self._patch(module, attr, traced)

    def wrap_stream_start(self, module, attr: str) -> None:
        """Charge a started streaming query's jobs (they run under the
        query's run id, not the caller's job group) to the open span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            q = orig(*args, **kwargs)
            if self._stack:
                self.stream_groups.append((self._stack[-1], str(q.runId)))
            return q

        self._patch(module, attr, traced)

    def _patch(self, module, attr: str, fn) -> None:
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- results -------------------------------------------------------
    def resolve_jobs(self) -> None:
        """Attach ``spark_jobs`` (jobs launched directly in the span) to
        every span; a streaming query's jobs run under its own run id and
        are charged to the span that started it."""
        jvm_sc = self._sc._jsc.sc()
        try:
            jvm_sc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; fall back to a pause
            time.sleep(1.0)
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            rec["spark_jobs"] = len(tracker.getJobIdsForGroup(rec["group"]))
        for sid, run_id in self.stream_groups:
            self.spans[sid]["spark_jobs"] += len(
                tracker.getJobIdsForGroup(run_id))

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def total_jobs(self, rec: dict) -> int:
        return rec["spark_jobs"] + sum(
            self.total_jobs(c) for c in self.children(rec))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")
