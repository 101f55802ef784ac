#!/usr/bin/env python3
"""Benchmark entry point.

    python3 irbench/run.py --workload {ingest,query} --seed N
        --seconds S --trace {0,1}

Run from the root of a checkout. It starts a local Spark session sized
from the host, generates the workload's inputs from ``--seed``, sets
them up, starts the Python workers and makes the workload's untimed
warm-up requests (all of which ``setup_s`` covers), and then measures
one closed-loop client for ``--seconds``: one batch pass and requests
(see ``measure`` for their order). Every output is checked; a wrong
output counts as a failed operation.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the host, the session settings, the generated corpus, every
warm-up and measured request's latency and a single-core speed probe taken after the run
(the host's speed drifts, so it helps attribute a slow run). With
``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
the window is traced and the metrics are the per-layer ones; the run
then repeats the window's requests untraced and reports the tracing
overhead as traced minus untraced median request latency.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")

END_TO_END = {
    "setup_s": "s",
    "batch_items_per_s": "1/s",
    "request_p50_s": "s",
    "index_bytes_per_input_byte": "B/B",
    "ok_ops_frac": "frac",
}
# per-layer spans and the metrics each reports (see spans.py); spill_mb
# is left out because it reads 0 for every span on both workloads
_FULL = (
    "jobs", "py4j_calls", "wall_s", "driver_s", "exec_run_s", "exec_cpu_s",
    "py_worker_s", "shuffle_write_mb",
)
_SCORING = _FULL + ("rows_examined_per_result",)
_DRIVER_ONLY = ("py4j_calls", "wall_s")
SPANS = {
    "indexer.build_index": _FULL,
    "wand.build_compressed_postings": _FULL,
    "indexer.update_docs": _FULL,
    "retrieval.queries_to_terms": _DRIVER_ONLY,
    "wand.score_queries_wand": _SCORING,
    "retrieval.score_queries": _SCORING,
    "feedback.retrieve_with_feedback": _SCORING,
    "retrieval.to_trec_run": _DRIVER_ONLY,
    "trec.write_run": _FULL,
    "evaluation.per_query_metrics": _FULL,
    "dedup.minhash_lsh_pairs": _FULL,
    "annsearch.lsh_near_dup_pairs": _FULL,
}
# per-layer metrics that are not span metrics
EXTRA_LAYER = {
    "session.get_spark.wall_s": "s",
    "session.cached_rdds_end": "count",
    "trace_overhead.request_p50_s": "s",
}


def unit_of(metric: str) -> str:
    if metric.endswith(("jobs", "py4j_calls")):
        return "count"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_per_result"):
        return "rows/row"
    return "s"


def layer_units() -> dict[str, str]:
    units = {f"{n}.{m}": unit_of(m) for n, ms in SPANS.items() for m in ms}
    units.update(EXTRA_LAYER)
    return units


def host_settings() -> dict:
    """Cores from the process's CPU affinity; driver heap from
    /proc/meminfo: 30% of RAM, between 1 and 8 GiB, no pre-touch."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = int(min(8192, max(1024, mem_kb * 0.3 / 1024)))
    return {"cores": cores, "ram_gib": round(mem_kb / 2**20, 2), "driver_heap_mb": heap_mb}


def start_spark(host: dict):
    from luc4ir_spark.session import get_spark

    tmp = os.path.join(WORK_DIR, "tmp")
    return get_spark(
        app_name="irbench",
        master=f"local[{host['cores']}]",
        shuffle_partitions=host["cores"],
        extra_conf={
            "spark.driver.memory": f"{host['driver_heap_mb']}m",
            # no hsperfdata files outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
            # keep every job and stage for the traced run's attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_probe(seconds: float = 0.5) -> float:
    """Millions of loop iterations per second on one core."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        n += 1
    return n / seconds / 1e6


@dataclass
class Window:
    batch: Step
    warm: list[Step]        # untimed, but checked and counted
    requests: list[Step]

    @property
    def steps(self) -> list[Step]:
        return [self.batch, *self.warm, *self.requests]


def _step(wl, tracer, what: str, i: int | None = None) -> Step:
    """One batch pass or request, under a parent span whose run id the
    layer spans inside it share."""
    tracer.run_id = what if i is None else f"{what}{i}"
    with tracer.span(f"{wl.name}.{what}"):
        step = wl.batch() if i is None else wl.request(i)
    if step.problems:
        print(f"[{wl.name}] {tracer.run_id} failed: {step.problems[:3]}",
              file=sys.stderr)
    return step


def _requests(wl, tracer, deadline: float) -> list[Step]:
    """Requests until the next one (at the mean request time so far)
    would end after ``deadline``, and at least the workload's
    ``min_requests``."""
    t1 = time.perf_counter()
    requests: list[Step] = []
    while True:
        requests.append(_step(wl, tracer, "request", len(requests)))
        now = time.perf_counter()
        if len(requests) >= wl.min_requests and now + (now - t1) / len(requests) > deadline:
            return requests


def measure(wl, tracer, seconds: float) -> Window:
    """A window of ``seconds``. With ``wl.batch_first``: one batch pass,
    the workload's untimed warm-up requests, then requests to the end of
    the window. Otherwise requests for the first half of the window
    (their path was warmed in set-up), then the batch pass."""
    t0 = time.perf_counter()
    if not wl.batch_first:
        requests = _requests(wl, tracer, t0 + seconds / 2)
        return Window(_step(wl, tracer, "batch"), [], requests)
    batch = _step(wl, tracer, "batch")
    phase, tracer.phase = tracer.phase, "warmup"
    warm = [_step(wl, tracer, "warmup", -1 - i) for i in range(wl.warm_requests)]
    tracer.phase = phase
    return Window(batch, warm, _requests(wl, tracer, t0 + seconds))


def request_p50(requests: list[Step]) -> float:
    return statistics.median(r.seconds for r in requests)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke size: the workload on a tiny corpus")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "luc4ir_spark")):
        print(f"luc4ir_spark not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK_DIR, "tmp"), exist_ok=True)
    # the engine zips itself for the executors into the temp dir, and
    # Python workers inherit this environment: keep both in the checkout
    os.environ["TMPDIR"] = os.path.join(WORK_DIR, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [ROOT, BENCH_DIR]

    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    host = host_settings()
    t0 = time.perf_counter()
    spark = start_spark(host)
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer()
        if args.trace:
            tracer.counter = spans.Py4jCounter(spark.sparkContext)
        ctx = workloads.Context(spark=spark, tracer=tracer, seed=args.seed,
                                work_dir=WORK_DIR)
        wl = workloads.WORKLOADS[args.workload](
            ctx, workloads.TINY if args.tiny else workloads.SIZE)
        wl.setup()
        # requests that need only set-up's state warm their path here,
        # untimed but checked and counted
        tracer.phase = "warmup"
        prewarm = [
            _step(wl, tracer, "prewarm", i) for i in range(wl.setup_requests)
        ]
        setup_s = time.perf_counter() - T_START

        tracer.phase = "measure"
        win = measure(wl, tracer, args.seconds)
        steps = prewarm + win.steps
        if args.trace:
            # the same requests again with tracing off, for the overhead
            tracer.counter.close()
            tracer.counter = None
            plain = [
                _step(wl, tracer, "untraced", i) for i in range(len(win.requests))
            ]
            steps += plain
        attempted, failed = len(steps), sum(1 for s in steps if s.problems)
        wl.teardown()
        cached_end = spark.sparkContext._jsc.getPersistentRDDs().size()

        info = {
            "workload": args.workload, "seed": args.seed, "host": host,
            "session_start_s": session_s, "batch_s": win.batch.seconds,
            "prewarm_s": [r.seconds for r in prewarm],
            "request_s": [r.seconds for r in win.requests], **ctx.props,
        }
        if args.trace:
            jobs, stages = spans.read_status_store(spark.sparkContext)
            out = spans.layer_metrics(tracer, jobs, stages, SPANS)
            out["session.get_spark.wall_s"] = session_s
            out["session.cached_rdds_end"] = cached_end
            out["trace_overhead.request_p50_s"] = (
                request_p50(win.requests) - request_p50(plain))
            tracer.dump(os.path.join(
                WORK_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
            units = layer_units()
        else:
            out = {
                "setup_s": setup_s,
                "batch_items_per_s": win.batch.items / win.batch.seconds,
                "request_p50_s": request_p50(win.requests),
                "index_bytes_per_input_byte": ctx.props["index_bytes_per_input_byte"],
                "ok_ops_frac": (attempted - failed) / attempted,
            }
            units = END_TO_END
    finally:
        stop_spark(spark)

    info["cpu_probe_m_iter_per_s"] = cpu_probe()
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": out[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
