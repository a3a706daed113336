"""Spans and Spark counters for the traced run.

A span is opened by the benchmark around a call into one layer's public
function. It records name, layer, start, end, parent span and op id, and
tags every Spark job the call starts with its own job group
(``setJobGroup``), so the status store can attribute jobs, stages and
tasks to the innermost span. Everything stays in memory until
:meth:`Tracer.harvest` reads the status store once, when the run ends.

``NullTracer`` is the untraced stand-in: same interface, no job groups,
no bookkeeping, so the end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Any, Iterator

# a dominant stage must run at least this long before a 1-task run of it
# counts as serialized: a 5 ms metadata stage on one task is not a finding
SERIAL_MIN_RUN_S = 0.2

COUNTERS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
    "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
)


def zero_counters() -> dict[str, float]:
    return {k: 0 for k in COUNTERS} | {"dominant_stage_tasks": 0, "dominant_run_s": 0.0,
                                       "serialized_stages": 0}


def add_counters(a: dict, b: dict) -> dict:
    out = {k: a[k] + b[k] for k in COUNTERS}
    out["serialized_stages"] = a["serialized_stages"] + b["serialized_stages"]
    big = a if a["dominant_run_s"] >= b["dominant_run_s"] else b
    out["dominant_stage_tasks"] = big["dominant_stage_tasks"]
    out["dominant_run_s"] = big["dominant_run_s"]
    return out


def sub_counters(a: dict, b: dict) -> dict:
    """``a - b`` per counter, floored at 0 (prefix differencing); the
    dominant stage is ``a``'s."""
    out = dict(a)
    for k in (*COUNTERS, "serialized_stages"):
        out[k] = max(0, a[k] - b[k])
    return out


def scale_counters(c: dict, f: float) -> dict:
    """Per-stage sums scaled by ``f`` (e.g. per round); the dominant
    stage is kept as is."""
    return {k: v * f if k in COUNTERS or k == "serialized_stages" else v for k, v in c.items()}


def stage_counters(stages: list[dict], cores: int) -> dict[str, float]:
    """Sum status-store stage records; flag serialized dominant stages."""
    c = zero_counters()
    for s in stages:
        if s.get("status") != "COMPLETE":
            continue
        run_s = s["executorRunTime"] / 1000.0
        c["stages"] += 1
        c["tasks"] += s["numCompleteTasks"]
        c["run_s"] += run_s
        c["cpu_s"] += s["executorCpuTime"] / 1e9
        c["gc_s"] += s["jvmGcTime"] / 1000.0
        c["input_bytes"] += s["inputBytes"]
        c["output_bytes"] += s["outputBytes"]
        c["shuffle_read_bytes"] += s["shuffleReadBytes"]
        c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        if run_s > c["dominant_run_s"]:
            c["dominant_run_s"] = run_s
            c["dominant_stage_tasks"] = s["numTasks"]
        if cores > 1 and s["numTasks"] == 1 and run_s >= SERIAL_MIN_RUN_S:
            c["serialized_stages"] += 1
    return c


def serialized(c: dict, cores: int) -> bool:
    """The serialization flag: the dominant stage ran as one task on a
    session with more than one core."""
    return cores > 1 and c["dominant_stage_tasks"] == 1 and c["dominant_run_s"] >= SERIAL_MIN_RUN_S


def status_store_json(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the live status store, as plain dicts: one
    Jackson round trip each instead of a py4j call per field."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    )
    store = sc._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class NullTracer:
    enabled = False

    def __init__(self) -> None:
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, layer: str | None = None) -> Iterator[dict]:
        yield {}

    def check_leaks(self, label: str) -> int:
        return 0


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, workload: str, cores: int):
        super().__init__()
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.cores = cores
        self.spans: list[dict[str, Any]] = []
        self.leaks: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._patched: list[tuple[Any, str, Any]] = []
        self._persist_base = persisted_rdds(spark)
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str | None = None) -> Iterator[dict]:
        sid = len(self.spans)
        rec: dict[str, Any] = {
            "id": sid, "name": name, "layer": layer or name.split(".")[0],
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id, "workload": self.workload,
            "start": time.perf_counter() - self._t0, "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"pb{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until :meth:`unwrap`."""
        fn = getattr(owner, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def check_leaks(self, label: str) -> int:
        """The leak flag: persisted RDDs that outlive a consumed op."""
        n = persisted_rdds(self.spark)
        new = max(0, n - self._persist_base)
        self._persist_base = n
        if new:
            self.leaks.append({"op": label, "new_persisted_rdds": new})
        return new

    def harvest(self) -> None:
        """Attach each span's self counters (jobs in its own group)."""
        jobs, stages = status_store_json(self.spark)
        by_stage: dict[int, list[dict]] = {}
        for s in stages:
            by_stage.setdefault(s["stageId"], []).append(s)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            if j.get("jobGroup"):
                by_group.setdefault(j["jobGroup"], []).append(j)
        for rec in self.spans:
            js = by_group.get(f"pb{rec['id']}", [])
            sids = sorted({sid for j in js for sid in j["stageIds"]})
            c = stage_counters([s for sid in sids for s in by_stage.get(sid, [])], self.cores)
            c["jobs"] = len(js)
            rec["spark"] = c

    def self_time(self, rec: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "cores": self.cores, "spans": self.spans,
                       "leaks": self.leaks, **(extra or {})}, f)
