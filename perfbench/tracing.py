"""Per-layer tracing for one pipeline run, from outside the engine.

The tracer wraps calls into the engine's public entry points, one per
layer, and records a span for each call (name, start, end, parent, run
id).  While a span is open in a thread, that thread's Spark jobs carry
a job-group tag naming the span, so the executed stages Spark records in
its status store can be attributed to the layer that launched them.
Spans are kept in memory and written out when the run ends.

Layers and the calls wrapped:

* ``plans``      ``plans.multi_site.site_etl`` (plan construction;
                 py4j commands are counted while it runs)
* ``multi_site`` the load callback handed to ``run_all_sites``, up to
                 its first sink call (eager materialisation + the commit
                 lock wait)
* ``sinks``      ``ParquetIncrementalSink.delete_overlap_append``,
                 ``merge_dedup_overwrite``, ``upsert_script_data``
* ``operators``  the stages of every job launched inside ``plans`` and
                 ``multi_site`` spans
* ``sources``    input bytes of those stages against the bytes of the
                 generated parquet
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

_SINK_CALLS = {
    "delete_overlap_append": "sinks.delete_overlap",
    "merge_dedup_overwrite": "sinks.merge",
    "upsert_script_data": "sinks.upsert",
}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list = []
        #: parent of spans opened in a thread with no open span
        self.root_id: int | None = None

    # --- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span; Spark jobs the thread launches inside it carry
        the job group ``<run id>|<span id>|<name>``."""
        stack = self._tls.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1]["id"] if stack else self.root_id
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "thread": threading.current_thread().name, **attrs}
        # tag first, so the tagging call is not counted as the span's
        self.sc.setJobGroup(f"{self.run_id}|{sid}|{name}", name)
        stack.append(rec)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()
            if stack:
                outer = stack[-1]
                self.sc.setJobGroup(f"{self.run_id}|{outer['id']}|{outer['name']}", outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def _current(self) -> dict | None:
        stack = self._tls.__dict__.get("stack")
        return stack[-1] if stack else None

    # --- instrumentation -------------------------------------------------

    def _patch(self, owner, attr, new):
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, multi_site_module, sink_cls) -> None:
        """Wrap the layer entry points and the py4j client."""
        tracer = self
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted_send(*a, **k):
            rec = tracer._current()
            if rec is not None and "py4j_calls" in rec:
                rec["py4j_calls"] += 1
            return send(*a, **k)

        self._patch(client, "send_command", counted_send)

        site_etl = multi_site_module.site_etl

        def traced_site_etl(downtime, production, site, **kw):
            with tracer.span("plans.construct", site=site.server, py4j_calls=0):
                return site_etl(downtime, production, site, **kw)

        self._patch(multi_site_module, "site_etl", traced_site_etl)

        for meth, name in _SINK_CALLS.items():
            self._patch(sink_cls, meth, self._sink_wrapper(getattr(sink_cls, meth), name))

    def _sink_wrapper(self, fn, name):
        tracer = self

        def wrapped(sink, new_rows, table, *a, **k):
            load = tracer._current()
            if load is not None and load["name"] == "multi_site.load" and "first_sink" not in load:
                load["first_sink"] = time.perf_counter() - tracer.t0
            # the batch's own rows, for write amplification; counted on
            # the already-materialised frame, outside the sink span
            with tracer.span("trace.count_batch", table=table):
                batch_rows = new_rows.count()
            with tracer.span(name, table=table, batch_rows=batch_rows):
                return fn(sink, new_rows, table, *a, **k)

        return wrapped

    def wrap_load(self, load):
        tracer = self

        def traced_load(server, outputs):
            with tracer.span("multi_site.load", site=server):
                return load(server, outputs)

        return traced_load

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # --- Spark status store ----------------------------------------------

    def status_store(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by id) from Spark's status store, as JSON."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(scala_module.__getattr__("MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stage_list = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        stages = {}
        for s in json.loads(mapper.writeValueAsString(stage_list)):
            # keep the last attempt of each stage, plus failed-task totals
            prev = stages.get(s["stageId"])
            if prev is not None:
                s["numFailedTasks"] += prev["numFailedTasks"]
            stages[s["stageId"]] = s
        return jobs, stages

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f, indent=1)


def _group_span_ids(jobs: list[dict], run_id: str) -> dict[int, list[dict]]:
    """Jobs of this run, keyed by the id of the span that launched them."""
    out: dict[int, list[dict]] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        parts = g.split("|")
        if len(parts) == 3 and parts[0] == run_id:
            out.setdefault(int(parts[1]), []).append(j)
    return out


def layer_metrics(tracer: Tracer, jobs: list[dict], stages: dict[int, dict],
                  input_bytes: int) -> tuple[dict[str, float], int]:
    """Per-layer metrics of one traced run (names as in BENCHMARK.json),
    and the number of rows the sink calls were handed."""
    by_span = _group_span_ids(jobs, tracer.run_id)
    spans = {s["id"]: s for s in tracer.spans}

    def jobs_of(prefixes) -> list[dict]:
        return [j for sid, js in by_span.items()
                if spans.get(sid, {}).get("name", "").startswith(prefixes) for j in js]

    def stages_of(js) -> list[dict]:
        seen: dict[int, dict] = {}
        for j in js:
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st is not None and st.get("status") != "SKIPPED":
                    seen[sid] = st
        return list(seen.values())

    def total(named: str, field: str = "dur") -> float:
        return sum((s["end"] - s["start"]) if field == "dur" else s.get(field, 0)
                   for s in tracer.spans if s["name"] == named)

    mb = 1024.0 * 1024.0
    construct_jobs = jobs_of(("plans.",))
    op_jobs = jobs_of(("plans.", "multi_site."))
    sink_jobs = jobs_of(("sinks.",))
    op_stages = stages_of(op_jobs)
    cstages = stages_of(construct_jobs)
    scan = sum(s["inputBytes"] for s in op_stages)

    loads = [s for s in tracer.spans if s["name"] == "multi_site.load"]
    precommit = sum(s.get("first_sink", s["end"]) - s["start"] for s in loads)
    batch_rows = sum(s.get("batch_rows", 0) for s in tracer.spans if s["name"].startswith("sinks."))

    return {
        "sources.input_mb": input_bytes / mb,
        "sources.scan_mb": scan / mb,
        "sources.rescan_ratio": scan / input_bytes if input_bytes else 0.0,
        "plans.construct_s": total("plans.construct"),
        "plans.construct_py4j_calls": total("plans.construct", "py4j_calls"),
        "plans.construct_jobs": float(len(construct_jobs)),
        "plans.construct_executor_cpu_s": sum(s["executorCpuTime"] for s in cstages) / 1e9,
        "multi_site.precommit_s": precommit,
        "operators.jobs": float(len(op_jobs)),
        "operators.stages": float(len(op_stages)),
        "operators.tasks": float(sum(s["numTasks"] for s in op_stages)),
        "operators.executor_run_s": sum(s["executorRunTime"] for s in op_stages) / 1e3,
        "operators.executor_cpu_s": sum(s["executorCpuTime"] for s in op_stages) / 1e9,
        "operators.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in op_stages) / mb,
        "operators.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in op_stages) / mb,
        "operators.spill_mb": sum(s["diskBytesSpilled"] for s in op_stages) / mb,
        "operators.peak_exec_mem_mb": max((s["peakExecutionMemory"] for s in op_stages), default=0) / mb,
        "operators.failed_tasks": float(sum(s["numFailedTasks"] for s in op_stages)),
        "sinks.delete_overlap_s": total("sinks.delete_overlap"),
        "sinks.merge_s": total("sinks.merge"),
        "sinks.upsert_s": total("sinks.upsert"),
        "sinks.commit_jobs": float(len(sink_jobs)),
    }, batch_rows
