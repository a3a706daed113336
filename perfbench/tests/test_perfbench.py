"""The benchmark's own tests: input determinism, output checks that
reject corrupted outputs, the trace dump, the two flags, and the metric
names the command prints.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pytest

import gen
from check import compare, parquet_dir
from conftest import BENCH_DIR, REPO_ROOT

TINY_STAR = gen.StarSize(customers=300, suppliers=20, parts=200, orders=2_000)
TINY_CORPUS = gen.CorpusPlan(docs=200, exact_groups=10, near_groups=10)
TINY_STREAM = gen.StreamPlan(initial=500, batches=8, batch_rows=40)


def _digests(root: str) -> dict[str, str]:
    return {
        os.path.relpath(f, root): hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True))
        if os.path.isfile(f)
    }


def _write_all(root: str, seed: int) -> None:
    gen.write_star(os.path.join(root, "star"), seed, TINY_STAR)
    gen.write_corpus(os.path.join(root, "docs.parquet"), seed, TINY_CORPUS)
    gen.write_change_stream(os.path.join(root, "stream"), seed, TINY_STREAM)


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _write_all(a, 7)
    _write_all(b, 7)
    _write_all(c, 8)
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)


def test_star_keeps_foreign_keys(tmp_path):
    gen.write_star(str(tmp_path), 3, TINY_STAR)
    con = duckdb.connect()
    q = lambda t: f"read_parquet('{tmp_path}/{t}.parquet')"  # noqa: E731
    assert con.sql(f"SELECT count(*) FROM {q('orders')} o ANTI JOIN {q('customer')} c "
                   "ON o.o_custkey = c.c_custkey").fetchone()[0] == 0
    assert con.sql(f"SELECT count(*) FROM {q('lineitem')} l ANTI JOIN {q('orders')} o "
                   "ON l.l_orderkey = o.o_orderkey").fetchone()[0] == 0


def _etl_views(tmp_path) -> duckdb.DuckDBPyConnection:
    gen.write_star(str(tmp_path / "star"), 1, TINY_STAR)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/star/{t}.parquet')")
    return con


def test_etl_check_rejects_corrupted_target(tmp_path):
    from wl_etl import TEMPLATES, job_params

    con = _etl_views(tmp_path)
    for i, (name, tpl) in enumerate(TEMPLATES):
        _, sql = tpl(job_params(1, i))
        good = tmp_path / f"{name}_good"
        good.mkdir()
        con.sql(f"COPY ({sql}) TO '{good}/part-0.parquet' (FORMAT parquet)")
        assert compare(con, parquet_dir(str(good)), sql) is None, name
        n = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if n == 0:
            continue
        bad = tmp_path / f"{name}_bad"
        bad.mkdir()
        # one row dropped, one row duplicated: same count, different rows
        con.sql(f"COPY (SELECT * FROM (SELECT *, row_number() OVER () AS rn FROM ({sql})) "
                f"WHERE rn != 1 UNION ALL SELECT * FROM (SELECT *, row_number() OVER () AS rn "
                f"FROM ({sql})) WHERE rn = 2) TO '{bad}/part-0.parquet' (FORMAT parquet)")
        assert compare(con, f"SELECT * EXCLUDE (rn) FROM ({parquet_dir(str(bad))})", sql), name


def test_recrawl_check_rejects_corrupted_table(tmp_path):
    from changes import replay

    stream = str(tmp_path / "stream")
    batches = gen.write_change_stream(stream, 2, TINY_STREAM)
    con = duckdb.connect()
    want = replay(con, stream, batches, list(range(len(batches))))
    con.sql(f"CREATE TABLE got AS SELECT * FROM {want}")
    assert compare(con, "SELECT * FROM got", f"SELECT * FROM {want}") is None
    con.sql("UPDATE got SET rev = rev + 1 WHERE doc_id = (SELECT min(doc_id) FROM got)")
    assert compare(con, "SELECT * FROM got", f"SELECT * FROM {want}") == "row hash differs"
    # a replay that skips the last batch is a different table, too
    con2 = duckdb.connect()
    partial = replay(con2, stream, batches, list(range(len(batches) - 1)))
    con.register("partial", con2.sql(f"SELECT * FROM {partial}").arrow())
    assert compare(con, "SELECT * FROM partial", f"SELECT * FROM {want}")


def test_corpus_check_rejects_kept_exact_duplicate(tmp_path):
    from wl_corpus import check_curated

    plant = gen.write_corpus(str(tmp_path / "docs.parquet"), 4, TINY_CORPUS)
    copies = {m for g in plant["exact_groups"] + plant["near_groups"] for m in g[1:]}
    kept = [i for i in range(TINY_CORPUS.docs) if i not in copies]
    ok = {"ids": kept, "indexed_docs": len(kept)}
    assert check_curated(ok, plant) == (None, 1.0, 1.0)
    leaked = plant["exact_groups"][0][1]
    bad = {"ids": kept + [leaked], "indexed_docs": len(kept) + 1}
    why, exact, _ = check_curated(bad, plant)
    assert why and exact < 1.0
    near_kept = {"ids": kept + [plant["near_groups"][0][1]], "indexed_docs": len(kept) + 1}
    why, exact, near = check_curated(near_kept, plant)
    assert why is None and exact == 1.0 and near < 1.0
    twice = {"ids": kept + kept[:1], "indexed_docs": len(kept) + 1}
    assert check_curated(twice, plant)[0]


def test_planted_copies_are_verbatim(tmp_path):
    import pyarrow.parquet as pq

    plant = gen.write_corpus(str(tmp_path / "docs.parquet"), 5, TINY_CORPUS)
    text = pq.read_table(str(tmp_path / "docs.parquet")).column("text").to_pylist()
    for g in plant["exact_groups"]:
        assert len({text[m] for m in g}) == 1
    for g in plant["near_groups"]:
        assert all(text[m] != text[g[0]] for m in g[1:])


# -- spans, counters and flags (need a Spark session) -------------------------

def test_dump_parses_and_attributes_jobs(spark, tmp_path):
    from spans import Tracer

    tr = Tracer(spark, "unit", cores=2)
    tr.op_id = "op-1"
    with tr.span("outer.call", "outer"):
        spark.range(1000).selectExpr("sum(id)").collect()
        with tr.span("inner.call", "inner"):
            spark.range(1000, numPartitions=2).selectExpr("count(*)").collect()
    tr.harvest()
    path = tmp_path / "trace.json"
    tr.dump(str(path), {"metrics": {}})
    doc = json.loads(path.read_text())
    assert [s["name"] for s in doc["spans"]] == ["outer.call", "inner.call"]
    outer, inner = doc["spans"]
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["op"] == inner["op"] == "op-1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert outer["spark"]["jobs"] >= 1 and inner["spark"]["jobs"] >= 1
    assert inner["spark"]["tasks"] >= 2
    for k in ("stages", "tasks", "run_s", "cpu_s", "shuffle_write_bytes"):
        assert k in outer["spark"]


def _heavy(df):
    from pyspark.sql import functions as F

    return df.select(F.max(F.xxhash64("id", F.col("id") * 3, F.col("id") * 7)))


def test_serialization_flag_fires_on_single_partition_input(spark):
    from spans import Tracer, serialized
    from workload import inclusive

    tr = Tracer(spark, "unit", cores=2)
    with tr.span("op.serial", "op") as one:
        _heavy(spark.range(0, 40_000_000, numPartitions=1)).collect()
    with tr.span("op.parallel", "op") as many:
        _heavy(spark.range(0, 40_000_000, numPartitions=4)).collect()
    tr.harvest()
    c1, c4 = inclusive(tr, one), inclusive(tr, many)
    assert c1["dominant_stage_tasks"] == 1 and serialized(c1, 2)
    assert c4["dominant_stage_tasks"] == 4 and not serialized(c4, 2)
    assert not serialized(c1, 1)  # one core: nothing to serialize on


def test_leak_flag_fires_on_unreleased_persist(spark):
    from spans import Tracer

    tr = Tracer(spark, "unit", cores=2)
    df = spark.range(100).persist()
    df.count()
    assert tr.check_leaks("leaky") == 1
    assert tr.leaks == [{"op": "leaky", "new_persisted_rdds": 1}]
    df.unpersist(blocking=True)
    clean = spark.range(100).persist()
    clean.count()
    clean.unpersist(blocking=True)
    assert tr.check_leaks("clean") == 0


# -- the command ----------------------------------------------------------------

def _bench_json() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_catalog_matches_benchmark_json():
    import run
    from layers import catalog

    b = _bench_json()
    assert [m["name"] for m in b["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (m["name"], m["unit"], m["better"]) for m in catalog()]
    assert sorted(w["name"] for w in b["workloads"]) == sorted(run._workloads())
    for m in catalog():
        assert m["moves"] in run.E2E_UNITS
        assert set(m["workloads"]) | set(m["flat_on"]) == set(run._workloads())


@pytest.mark.parametrize("trace", [0, 1])
def test_command_prints_every_metric(trace):
    """One short etl_jobs run; the printed names are the ones declared."""
    b = _bench_json()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "etl_jobs",
         "--seed", "11", "--seconds", "1", "--trace", str(trace)],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = b["per_layer"] if trace else b["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}


def test_command_refuses_a_directory_without_the_program(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "etl_jobs",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""
