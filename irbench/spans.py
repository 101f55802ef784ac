"""Per-layer tracing from outside the engine.

The benchmark wraps each call it makes into a ``luc4ir_spark`` layer in
a span named ``<module>.<function>`` (the call plus whatever action
forces its result). Spans are kept in memory; at the end of a traced
run they are joined with Spark's JVM status store, read once, so each
span gets the jobs submitted inside it and those jobs' stage metrics.

Counts and times per span:

- ``jobs``: Spark jobs submitted inside the span;
- ``py4j_calls``: commands the driver sent over the py4j gateway;
- ``wall_s``; ``driver_s``: wall time covered by no job of the span
  (Python plan building, py4j, Catalyst, driver-side collect/parse);
- ``exec_run_s`` / ``exec_cpu_s``: task run time / JVM thread CPU time
  summed over the span's stages; ``py_worker_s`` = run - CPU, task time
  off a JVM CPU: waiting on Python workers (Arrow UDFs, applyInPandas)
  above all, but also shuffle fetch, GC and CPU contention;
- ``shuffle_write_mb``;
- ``rows_examined_per_result``: stage input plus shuffle-read records
  per result row, for spans that set ``rows``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

@dataclass
class Span:
    name: str
    start: float            # epoch seconds, comparable to JVM job times
    parent: int | None
    run_id: str | None
    phase: str
    end: float = 0.0
    py4j_calls: int = 0
    rows: int | None = None  # result rows, for rows_examined_per_result


class Py4jCounter:
    """Counts commands sent through the driver's py4j gateway client by
    wrapping its ``send_command`` on the instance (every JavaObject
    reaches the JVM through that one client)."""

    def __init__(self, sc):
        self.n = 0
        self._client = sc._gateway._gateway_client
        orig = self._client.send_command

        def counted(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.__dict__.pop("send_command", None)


class _NoSpan:
    rows = None


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    counter: Py4jCounter | None = None
    phase: str = "setup"
    run_id: str | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if self.counter is None:
            yield _NoSpan()
            return
        s = Span(
            name=name, start=time.time(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id, phase=self.phase,
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        p0 = self.counter.n
        try:
            yield s
        finally:
            s.end = time.time()
            s.py4j_calls = self.counter.n - p0
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the JVM status store, serialized to JSON
    on the JVM side so the read costs a handful of py4j calls."""
    jvm = sc._jvm
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
    ).__getattr__("MODULE$")
    mapper.registerModule(scala_module)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(
                None, False, False, sc._gateway.new_array(jvm.double, 0), None
            )
        )
    )
    by_id: dict[int, dict] = {}
    for st in stages:
        # keep every attempt: metrics of retried stages add up
        by_id.setdefault(st["stageId"], {"attempts": []})["attempts"].append(st)
    return jobs, by_id


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(span: Span, jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Metrics of one span, plus its examined records."""
    lo, hi = span.start * 1000.0, span.end * 1000.0
    mine = [
        j for j in jobs
        if j.get("submissionTime") is not None
        and lo <= j["submissionTime"] <= hi
    ]
    intervals = [
        (j["submissionTime"], min(j.get("completionTime") or hi, hi))
        for j in mine
    ]
    stage_ids = {sid for j in mine for sid in j.get("stageIds", [])}
    run = cpu = shuffle_w = examined = 0.0
    for sid in stage_ids:
        for st in stages.get(sid, {"attempts": []})["attempts"]:
            run += st.get("executorRunTime", 0) / 1e3
            cpu += st.get("executorCpuTime", 0) / 1e9
            shuffle_w += st.get("shuffleWriteBytes", 0)
            examined += st.get("inputRecords", 0) + st.get("shuffleReadRecords", 0)
    wall = span.end - span.start
    return {
        "jobs": len(mine),
        "py4j_calls": span.py4j_calls,
        "wall_s": wall,
        "driver_s": max(0.0, wall - _union_length(intervals) / 1e3),
        "exec_run_s": run,
        "exec_cpu_s": cpu,
        "py_worker_s": run - cpu,
        "shuffle_write_mb": shuffle_w / 2**20,
        "_examined": examined,
    }


def layer_metrics(tracer: Tracer, jobs, stages, wanted: dict[str, tuple]) -> dict:
    """Mean per call of each wanted span metric. Calls made while the
    workload was measured are used; a layer the workload calls only
    while setting up (the search index build, say) reports its set-up
    calls. Warm-up calls never count. Names never called report 0."""
    by_name: dict[str, dict[str, list[Span]]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, {}).setdefault(s.phase, []).append(s)
    out: dict[str, float] = {}
    for name, metrics in wanted.items():
        phases = by_name.get(name, {})
        calls = phases.get("measure") or phases.get("setup") or []
        rows = [span_metrics(s, jobs, stages) for s in calls]
        for m in metrics:
            key = f"{name}.{m}"
            if not rows:
                out[key] = 0.0
            elif m == "rows_examined_per_result":
                results = sum(s.rows or 0 for s in calls)
                out[key] = sum(r["_examined"] for r in rows) / max(1, results)
            else:
                out[key] = sum(r[m] for r in rows) / len(rows)
    return out
