"""etl_jobs: reference-shaped job specs through ``make_spec`` + ``Engine.run``.

One round is six read jobs, one per merger mode (m2s, s2m, mrm, mrnm,
munwind, mmo), then one commit tick of the recrawl change stream
(``changes.ChangeStream.commit_tick``). Every read job filters with the
mongo-dialect DSL, runs a transformer chain and ``create``s its own
target. Parameters come from the seed, in ranges narrow enough that a
job's work barely depends on the seed. Each target is checked against a
DuckDB twin over the same generated input; the committed tables against
a DuckDB replay of the change stream.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen
from changes import STREAM, ChangeStream
from check import compare, parquet_dir
from spans import add_counters, sub_counters, zero_counters
from workload import Ctx, Op, Workload, inclusive, materialize, run_op

STAR = gen.StarSize(customers=15_000, suppliers=1_000, parts=20_000, orders=150_000)

_DAY = 86_400


def _date(days_after_1992: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(694224000 + days_after_1992 * _DAY))


def job_params(seed: int, i: int) -> dict:
    """Seeded parameters of job ``i`` (template ``i % 6``)."""
    r = np.random.default_rng([seed, i])
    d = int(r.integers(900, 1100))
    return {
        "status": str(gen.STATUSES[r.integers(0, 3)]),
        "price": round(float(r.uniform(240_000, 260_000)), 2),
        "seg": str(gen.SEGMENTS[r.integers(0, 5)]),
        "acct": round(float(r.uniform(-100, 100)), 2),
        "d1": _date(d), "d2": _date(d + 240),
        "prio": str(gen.PRIORITIES[r.integers(0, 5)]),
        "key": int(r.integers(1, STAR.orders - 20_000)),
        "nations": ",".join(str(x) for x in sorted(r.choice(25, 3, replace=False).tolist())),
    }


# (template, make_spec kwargs, DuckDB twin) -- the twin replays the DSL
# filter, the transformer chain and the merger semantics in SQL
def _m2s(p):
    spec = dict(
        source="orders",
        query=[f"o_orderstatus={p['status']}", f"o_totalprice__gte={p['price']}",
               "_fields=o_orderkey,o_custkey,o_totalprice,o_orderdate"],
        transformers=["with_column:o_band,cast(floor(o_totalprice / 100000) as int)"],
        merger="customer", mkeys="o_custkey:c_custkey", mmd="m2s",
        mq=[f"c_mktsegment__ne={p['seg']}"],
    )
    sql = f"""
        SELECT o.*, CAST(floor(o.o_totalprice / 100000) AS INTEGER) AS o_band,
               c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
        FROM (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
              WHERE o_orderstatus = '{p['status']}' AND o_totalprice >= {p['price']}) o
        LEFT JOIN (SELECT * FROM customer
                   WHERE c_mktsegment != '{p['seg']}' OR c_mktsegment IS NULL) c
          ON o.o_custkey = c.c_custkey"""
    return spec, sql


def _s2m(p):
    spec = dict(
        source="customer",
        query=[f"c_acctbal__gte={p['acct']}", "_fields=c_custkey,c_name,c_nationkey,c_acctbal"],
        transformers=["lower:c_name"],
        merger="nation", mkeys="c_nationkey:n_nationkey", mmd="s2m",
        mtr=["rename:n_name,c_name"],
    )
    sql = f"""
        SELECT c.c_custkey, CASE WHEN n.n_nationkey IS NOT NULL
                                 THEN coalesce(lower(c.c_name), n.n_name)
                                 ELSE lower(c.c_name) END AS c_name,
               c.c_nationkey, c.c_acctbal, n.n_regionkey
        FROM (SELECT * FROM customer WHERE c_acctbal >= {p['acct']}) c
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey"""
    return spec, sql


def _mrm(p):
    spec = dict(
        source="lineitem",
        query=[f"l_shipdate__gte={p['d1']}", f"l_shipdate__lt={p['d2']}", "l_discount__lte=0.05",
               "_fields=l_orderkey,l_linenumber,l_extendedprice,l_discount,l_shipdate"],
        transformers=["with_column:l_net,l_extendedprice * (1 - l_discount)"],
        merger="orders", mkeys="l_orderkey:o_orderkey", mmd="m2s", mrm=True,
        mq=[f"o_orderpriority={p['prio']}"],
    )
    sql = f"""
        SELECT l.*, l.l_extendedprice * (1 - l.l_discount) AS l_net,
               o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority
        FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate
              FROM lineitem WHERE l_shipdate >= TIMESTAMP '{p['d1']}'
                AND l_shipdate < TIMESTAMP '{p['d2']}' AND l_discount <= 0.05) l
        JOIN (SELECT * FROM orders WHERE o_orderpriority = '{p['prio']}') o
          ON l.l_orderkey = o.o_orderkey"""
    return spec, sql


def _mrnm(p):
    spec = dict(
        source="customer",
        query=[f"c_mktsegment={p['seg']}", "_fields=c_custkey,c_name,c_acctbal,c_mktsegment"],
        transformers=["filter:c_acctbal > 0"],
        merger="orders", mkeys="c_custkey:o_custkey", mmd="m2s", mrnm=True,
        mq=[f"o_orderdate__gte={p['d1']}"],
    )
    sql = f"""
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer c
        WHERE c_mktsegment = '{p['seg']}' AND c_acctbal > 0
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '{p['d1']}')"""
    return spec, sql


def _unwind(p):
    k = p["key"]
    spec = dict(
        source="orders",
        query=[f"o_orderkey__gte={k}", f"o_orderkey__lt={k + 20_000}",
               "_fields=o_orderkey,o_orderstatus,o_totalprice"],
        transformers=["upper:o_orderstatus"],
        merger="lineitem", mkeys="o_orderkey:l_orderkey", mmd="m2s", munwind=True,
        mtr=["select:l_orderkey,l_linenumber,l_quantity,l_partkey"],
    )
    sql = f"""
        SELECT o.o_orderkey, upper(o.o_orderstatus) AS o_orderstatus, o.o_totalprice,
               l.l_linenumber, l.l_quantity, l.l_partkey
        FROM (SELECT * FROM orders WHERE o_orderkey >= {k} AND o_orderkey < {k + 20_000}) o
        LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey"""
    return spec, sql


def _mmo(p):
    spec = dict(
        source="customer",
        query=[f"c_nationkey__in={p['nations']}", "_fields=c_custkey,c_nationkey,c_acctbal",
               "_sort=-c_acctbal,c_custkey", "_limit=1500"],
        transformers=["with_column:c_rich,c_acctbal > 5000"],
        merger="orders", mkeys="c_custkey:o_custkey", mmd="m2s", mmo=True,
        mmo_order=["-o_totalprice", "o_orderkey"],
        mtr=["select:o_custkey,o_orderkey,o_totalprice"],
    )
    sql = f"""
        SELECT c.*, c.c_acctbal > 5000 AS c_rich, o.o_orderkey, o.o_totalprice
        FROM (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
              WHERE c_nationkey IN ({p['nations']})
              ORDER BY c_acctbal DESC, c_custkey LIMIT 1500) c
        LEFT JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM (
                     SELECT *, row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
                   WHERE rn = 1) o
          ON c.c_custkey = o.o_custkey"""
    return spec, sql


TEMPLATES = (("m2s", _m2s), ("s2m", _s2m), ("mrm", _mrm), ("mrnm", _mrnm),
             ("munwind", _unwind), ("mmo", _mmo))


class EtlJobs(Workload):
    name = "etl_jobs"

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.i = 0
        self.sizes: dict[str, int] = {}
        self.stream = ChangeStream(seed, self.data, "crawl")

    def generate(self) -> dict:
        self.sizes = gen.write_star(self.data, self.seed, STAR)
        return {"tables": self.sizes, "rows": sum(self.sizes.values()),
                "stream": self.stream.generate()}

    def round_rows(self) -> int:
        # rows of the source and merger tables each job of a round reads
        s = self.sizes
        return (s["orders"] + s["customer"]) + (s["customer"] + s["nation"]) + \
            (s["lineitem"] + s["orders"]) * 2 + (s["orders"] + s["lineitem"]) + \
            (s["customer"] + s["orders"]) + STREAM.batch_rows

    def setup(self, ctx: Ctx) -> None:
        from etl_cli_spark import Engine

        t = time.perf_counter()
        self.engine = Engine(ctx.spark, ctx.data, job_log=True)
        for _ in TEMPLATES:  # warm-up: one job of every template
            self._job(ctx, keep=False)
        t1 = time.perf_counter()
        self.stream.setup_commits(ctx, self.engine)
        t2 = time.perf_counter()
        self.stream.commit_tick(ctx)  # warm-up of the commit path
        self.stream.mark()
        self.setup_parts = {"warm_jobs": t1 - t, "seed_targets": t2 - t1,
                            "warm_tick": time.perf_counter() - t2}

    def _spec(self, i: int, target: str):
        from etl_cli_spark import make_spec

        name, tpl = TEMPLATES[i % len(TEMPLATES)]
        p = job_params(self.seed, i)
        kw, sql = tpl(p)
        return name, make_spec(**kw, target=target, op="create", msg=f"{name}-{i}"), sql

    def _job(self, ctx: Ctx, keep: bool = True) -> Op:
        i = self.i
        self.i += 1
        target = f"out/j{i:05d}"
        name, spec, sql = self._spec(i, target)
        path = os.path.join(ctx.data, "out", f"j{i:05d}.parquet")
        ctx.tracer.op_id = f"{name}-{i}"

        def go():
            res = self.engine.run(spec)
            ctx.tracer.check_leaks(f"{name}-{i}")
            return {"path": path, "sql": sql, "rows_out": res.metrics.get("rows_out")}

        op = run_op(ctx, name, go)
        if not keep:
            shutil.rmtree(path, ignore_errors=True)
        return op

    def round(self, ctx: Ctx) -> list[Op]:
        return [self._job(ctx) for _ in TEMPLATES] + [self.stream.commit_tick(ctx)]

    def verify(self, ctx: Ctx, ops: list[Op]) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t in self.sizes:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.data}/{t}.parquet')")
        bad = []
        for op in ops:
            if not op.ok or op.name.startswith("tick_"):
                continue
            why = compare(con, parquet_dir(op.check["path"]), op.check["sql"])
            if why is None and op.check["rows_out"] is None:
                why = "job log recorded no rows_out"
            if why is not None:
                op.ok, op.error = False, why
                bad.append(f"{op.name}: {why}")
            shutil.rmtree(op.check["path"], ignore_errors=True)
        con.close()
        return bad + self.stream.verify_commits(ctx, ops)

    def amplification(self, ctx: Ctx) -> tuple[float, float]:
        return self.stream.amplification()

    # -- traced run ---------------------------------------------------------
    def install_spans(self, tracer) -> None:
        import etl_cli_spark.engine as eng
        from etl_cli_spark.metrics import JobLog

        tracer.wrap(eng, "compile_query", "dsl.compile")
        tracer.wrap(eng, "read_dataset", "sources.read")
        tracer.wrap(eng, "apply_chain", "functions.chain")
        tracer.wrap(eng, "merge", "merger.merge")
        tracer.wrap(JobLog, "record", "metrics.record")

    def layer_pass(self, ctx: Ctx) -> dict:
        """Prefix differencing, one job per template: read+dsl, then
        +functions, then +merger, each to the noop sink, then the job."""
        from etl_cli_spark.dsl import compile_query
        from etl_cli_spark.functions.registry import apply_chain
        from etl_cli_spark.operators.merger import merge
        from etl_cli_spark.sources.registry import read_dataset
        from etl_cli_spark.uri import parse_ds

        out = []
        for _ in TEMPLATES:
            i = self.i
            self.i += 1
            name, spec, _ = self._spec(i, f"out/p{i:05d}")
            ctx.tracer.op_id = f"prefix-{name}-{i}"
            q = compile_query(spec.source.query)
            src = q.apply(read_dataset(ctx.spark, parse_ds(spec.source.ds), ctx.data))
            t1, r1, n1 = materialize(ctx, "prefix.read_dsl", "sources", lambda: src)
            chained = apply_chain(src, spec.source.transformers)
            t2, r2, _ = materialize(ctx, "prefix.functions", "functions", lambda: chained)
            mrg = apply_chain(read_dataset(ctx.spark, parse_ds(spec.merger.ds), ctx.data),
                              spec.merger.transformers)
            merged = merge(chained, mrg, spec.merger)
            t3, r3, _ = materialize(ctx, "prefix.merger", "merger", lambda: merged)
            plan = merged._jdf.queryExecution().executedPlan().toString()
            with ctx.tracer.span("prefix.job", "writeops") as r4:
                t = time.perf_counter()
                self.engine.run(spec)
                t4 = time.perf_counter() - t
            ctx.tracer.check_leaks(f"prefix-{name}-{i}")
            shutil.rmtree(os.path.join(ctx.data, "out", f"p{i:05d}.parquet"), ignore_errors=True)
            out.append({
                "template": name, "t": (t1, t2, t3, t4), "spans": (r1, r2, r3, r4),
                "rows_in": self.sizes[spec.source.ds], "rows_out": n1,
                "broadcast": plan.count("BroadcastExchange"),
                "shuffle": plan.count("Exchange hashpartitioning")
                + plan.count("Exchange rangepartitioning") + plan.count("Exchange SinglePartition"),
            })
        self.stream.time_travel(ctx)
        return {"prefixes": out}

    def layer_metrics(self, ctx: Ctx, ops: list[Op], lp: dict) -> tuple[dict, dict]:
        tr = ctx.tracer
        pre = lp["prefixes"]
        inc = [[inclusive(tr, r) for r in p["spans"]] for p in pre]
        n_ops = max(1, len(ops))

        def span_s(name):
            return sum(s["end"] - s["start"] for s in tr.spans
                       if s["name"] == name and not str(s["op"]).startswith("prefix"))

        lazy = {k: zero_counters() for k in ("sources", "functions", "merger", "writeops")}
        for c in inc:  # prefixes: read+dsl, +functions, +merger, the whole job
            lazy["sources"] = add_counters(lazy["sources"], c[0])
            for k, i in (("functions", 1), ("merger", 2), ("writeops", 3)):
                lazy[k] = add_counters(lazy[k], sub_counters(c[i], c[i - 1]))
        return {
            "sources.read_s": span_s("sources.read") / n_ops,
            "sources.scan_bytes": sum(c[0]["input_bytes"] for c in inc),
            "sources.scan_tasks": sum(c[0]["tasks"] for c in inc),
            "dsl.compile_s": span_s("dsl.compile") / n_ops,
            "dsl.rows_in_per_row_out": sum(p["rows_in"] for p in pre)
            / max(1, sum(p["rows_out"] for p in pre)),
            "functions.chain_s": sum(max(0.0, p["t"][1] - p["t"][0]) for p in pre),
            "merger.self_s": sum(max(0.0, p["t"][2] - p["t"][1]) for p in pre),
            "merger.shuffle_bytes": lazy["merger"]["shuffle_write_bytes"],
            "merger.exchanges": sum(p["broadcast"] + p["shuffle"] for p in pre),
            "merger.broadcast_exchanges": sum(p["broadcast"] for p in pre),
            "metrics.record_s": span_s("metrics.record") / n_ops,
            **self.stream.commit_metrics(ctx),
        }, lazy
