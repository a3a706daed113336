"""What every workload shares: the run context, op records, the closed
loop, and the prefix-materialization helper the layer passes use."""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from spans import NullTracer, add_counters, zero_counters


@dataclass
class Ctx:
    spark: Any
    cores: int
    data: str      # generated inputs: the engine's root
    work: str      # scratch space for targets, indexes and shards
    tracer: Any = field(default_factory=NullTracer)


@dataclass
class Op:
    name: str
    latency: float
    ok: bool = True
    error: str | None = None
    check: dict = field(default_factory=dict)   # what verify() needs


def run_op(ctx: Ctx, name: str, fn: Callable[[], dict | None]) -> Op:
    """One closed-loop op: submit, wait for the result, record latency.
    A raising op is recorded as failed and the loop goes on."""
    t = time.perf_counter()
    try:
        with ctx.tracer.span(f"op.{name}", "op"):
            info = fn() or {}
        return Op(name, time.perf_counter() - t, check=info)
    except Exception as e:  # the loop must keep running; the op counts as failed
        traceback.print_exc()
        return Op(name, time.perf_counter() - t, ok=False, error=f"{type(e).__name__}: {e}")


class Workload:
    """One seeded workload. ``round`` is the fixed unit of work that
    ``wall_s`` times; the closed loop repeats it until time is up."""

    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.data = os.path.join(work, "data")

    def generate(self) -> dict: ...
    def setup(self, ctx: Ctx) -> None: ...
    def round(self, ctx: Ctx) -> list[Op]: ...
    def round_rows(self) -> int: ...
    def verify(self, ctx: Ctx, ops: list[Op]) -> list[str]: ...
    def amplification(self, ctx: Ctx) -> tuple[float, float]: ...
    def install_spans(self, tracer) -> None: ...
    def layer_pass(self, ctx: Ctx) -> dict: ...
    def layer_metrics(self, ctx: Ctx, ops: list[Op], lp: dict) -> tuple[dict, dict]: ...


def materialize(ctx: Ctx, name: str, layer: str, build: Callable[[], Any]) -> tuple[float, dict, int]:
    """Build a DataFrame and run it to the noop sink, both inside one
    span (composing can run jobs, e.g. a driver-side k-means); returns
    (seconds, span record, rows). Rows come from an observation, not a
    second job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    with ctx.tracer.span(name, layer) as rec:
        t = time.perf_counter()
        df = build().observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
    return dt, rec, int(obs.get["n"])


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = b = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


def inclusive(tracer, rec: dict) -> dict:
    """Counters of a span and all spans under it."""
    kids = {rec["id"]}
    total = zero_counters()
    for s in tracer.spans:  # spans are appended parent-first
        if s["id"] in kids or s["parent"] in kids:
            kids.add(s["id"])
            total = add_counters(total, s["spark"])
    return total

