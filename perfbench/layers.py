"""The per-layer metric catalogue and the cross-cutting Spark counters.

``layers.json`` lists every per-layer metric with its unit, the layer
(the ``etl_cli_spark`` module) it measures, the end-to-end metric and
workload it should move, and the workloads where it should stay flat.
"""

from __future__ import annotations

import json
import os

from spans import add_counters, serialized, zero_counters

CATALOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "layers.json")

# layers whose Spark counters are reported one by one
SPARK_LAYERS = ("sources", "functions", "merger", "writeops", "commitlog", "streaming",
                "dedup", "text", "similarity", "rank", "pipeline")
SPARK_LAYER_COUNTERS = ("jobs", "tasks", "cpu_s")
WORKLOAD_COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s", "shuffle_read_bytes",
                     "shuffle_write_bytes", "serialized_stages")


def catalog() -> list[dict]:
    with open(CATALOG) as f:
        return json.load(f)["per_layer"]


def per_layer_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in catalog()}


def owned_by(workload: str) -> set[str]:
    """Metrics the given workload must produce itself (not fill with 0)."""
    return {m["name"] for m in catalog() if workload in m["workloads"]}


def cross_cutting(tracer, cores: int, rounds: int,
                  lazy: dict[str, dict] | None = None) -> dict[str, float]:
    """``spark.*`` and ``<layer>.spark_*`` per round of the traced loop.

    Per-layer counters are the self counters of the loop's spans of that
    layer, plus, for layers in ``lazy``, the prefix-differenced counters
    the workload supplies (already per round): lazy work runs inside
    another layer's action, so no span of its own sees it. An op is serialized when its dominant stage ran
    as one task on a session with more than one core."""
    from workload import inclusive

    loop = [s for s in tracer.spans if not str(s["op"]).startswith("prefix")]
    total = zero_counters()
    by_layer = {layer: zero_counters() for layer in SPARK_LAYERS}
    for s in loop:
        total = add_counters(total, s["spark"])
        if s["layer"] in by_layer:
            by_layer[s["layer"]] = add_counters(by_layer[s["layer"]], s["spark"])
    ops = [s for s in loop if s["layer"] == "op"]
    for op in ops:
        op["serialized"] = serialized(inclusive(tracer, op), cores)
    wall = sum(s["end"] - s["start"] for s in ops)
    n = max(1, rounds)
    out = {f"spark.{k}": total[k] / n for k in WORKLOAD_COUNTERS}
    out["spark.core_util"] = total["run_s"] / max(1e-9, wall * cores)
    out["spark.serialized_ops"] = sum(op["serialized"] for op in ops) / n
    out["spark.persisted_rdds_leaked"] = sum(x["new_persisted_rdds"] for x in tracer.leaks)
    for layer in SPARK_LAYERS:
        for k in SPARK_LAYER_COUNTERS:
            out[f"{layer}.spark_{k}"] = by_layer[layer][k] / n + (lazy or {}).get(
                layer, {}).get(k, 0)
    return out
