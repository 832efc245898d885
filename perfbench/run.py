"""Benchmark entry point.

    python3 perfbench/run.py --workload build|search --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Everything the run writes goes under
``.perfbench/`` there: inputs and expected answers cached by seed, Spark
local dirs, temp files, the run's index dirs (removed at the end) and, for
``--trace 1``, the span log. The last line of stdout is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")


def _pin_environment(nproc: int) -> dict:
    """Pin the session to this box before the JVM starts: local[nproc],
    nproc shuffle partitions, a JVM heap sized to the machine (a
    quarter of RAM, at most 2g), local and temp dirs inside the checkout,
    and PYTHONPATH so the Python workers can import the package."""
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2 ** 20
    driver_mem = f"{max(1, min(2, int(mem_gb // 4)))}g"
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata files in the system temp dir, launcher JVM included
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {"master": f"local[{nproc}]", "shuffle_partitions": nproc,
            "driver_memory": driver_mem, "local_dirs": local}


def _stop(spark, pids: list[int]) -> None:
    """Stop the session and the JVM, then wait for every process the
    run started (``pids``: JVM, Python worker daemon and workers) to
    end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if not pids:
            return
        time.sleep(0.2)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    nproc = os.cpu_count() or 1
    session_info = _pin_environment(nproc)
    sys.path.insert(0, ROOT)
    # imports that need the engine: a checkout without it fails here
    from prow_jobs_scraper_spark.search import compressed, dsl  # noqa: PLC0415
    from prow_jobs_scraper_spark.index import build as ibuild  # noqa: PLC0415
    from prow_jobs_scraper_spark.session import get_spark  # noqa: PLC0415
    from prow_jobs_scraper_spark.streaming import incremental  # noqa: PLC0415

    from perfbench import inputs, report  # noqa: PLC0415
    from perfbench.spans import SpanRecorder  # noqa: PLC0415
    from perfbench.workloads import WORKLOADS, Run  # noqa: PLC0415

    work = os.path.join(STATE, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cache = inputs.cache_dir(STATE, args.workload, args.seed)
    os.makedirs(cache, exist_ok=True)

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", cores=nproc, shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            # C1 only: a run is a fresh JVM that lives about a minute, and
            # C2 compiler threads would compete with the task threads
            # (README.md, "Session pinning")
            "spark.driver.extraJavaOptions": " ".join([
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]),
        })
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    session_info["session_start_s"] = round(session_s, 3)
    print(json.dumps({"session": session_info}), flush=True)

    tracer = None
    try:
        if args.trace:
            tracer = SpanRecorder(spark)
            tracer.wrap(ibuild, "build_index", "index.build", keep=lambda m: {
                k: m[k] for k in ("stage_sec", "skew_ratio_max", "n_docs")})
            tracer.wrap(ibuild, "compact_segments", "index.compact")
            tracer.wrap(compressed, "search_topk", "search.compressed.topk")
            tracer.wrap(compressed, "search_topk_many", "search.compressed.many")
            tracer.wrap(compressed, "search_topk_multi",
                        "search.compressed.multi")
            tracer.wrap(dsl, "execute_request_indexed", "search.dsl.request")
            tracer.wrap(incremental, "ingest_and_index_tick",
                        "streaming.incremental.tick")
            tracer.wrap(incremental, "compact_tick",
                        "streaming.incremental.compact",
                        keep=lambda r: {"compacted": r["compacted"]})
            tracer.wrap_stream_start(incremental, "incremental_ingest")
        run = Run(spark=spark, work=work, cache=cache, seed=args.seed,
                  seconds=args.seconds, nproc=nproc, trace=tracer)
        WORKLOADS[args.workload](run)
        if tracer is None:
            metrics = report.end_to_end(args.workload, run, session_s)
        else:
            metrics = report.per_layer(run, tracer, session_s)
            tracer.write(os.path.join(
                STATE, f"spans-{args.workload}-s{args.seed}.jsonl"))
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop(spark, report.descendants(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(run.ops)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        "failed": min(run.failed, attempted),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
